"""Run environment, JVM probes and span tracing for the benchmark.

Everything a run writes goes under one per-run directory inside the
checkout (corpus, Spark local dir, JVM and Python temp files, snapshot
roots, stream checkpoints); :meth:`Host.close` stops Spark, waits for the
JVM to exit, ends any process the run started that is still alive and
deletes the directory.
"""

from __future__ import annotations

import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager
from itertools import count


def host_cores() -> int:
    """CPUs this process may run on (``nproc``), not the machine's total."""
    return len(os.sched_getaffinity(0))


def host_memory_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_gib() -> int:
    """A quarter of physical RAM, 2 to 6 GiB: the driver JVM also runs the
    executors in local mode, and the Python workers need the rest."""
    return max(2, min(6, int(host_memory_gib() // 4)))


# Set to the run directory in the run's environment, which every process it
# starts inherits (the JVM, its Python workers, the calibration children):
# Host.close ends whatever still carries it, reparented orphans included.
RUN_ENV = "PERFBENCH_RUN_DIR"


def run_pids(run_dir: str) -> list[int]:
    """Live processes, other than this one, started by the run in
    ``run_dir``. Zombies have an empty environment and do not count."""
    tag = b"\0" + f"{RUN_ENV}={run_dir}".encode() + b"\0"
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                env = b"\0" + f.read()
        except OSError:
            continue  # gone, or not ours
        if tag in env:
            pids.append(int(name))
    return pids


def end_run_processes(run_dir: str, timeout: float = 60.0) -> None:
    """Kill every process the run left alive and wait until all are gone,
    reaping this process's own children."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        pids = run_pids(run_dir)
        if not pids:
            return
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {pids} outlived the run")
        log(f"killing leftover processes {pids}")
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


class Host:
    """One run's sandbox: directory, environment and Spark session."""

    def __init__(self, run_dir: str):
        self.t_start = time.perf_counter()
        self.dir = run_dir
        self.cores = host_cores()
        self.partitions = 2 * self.cores
        self.driver_gib = driver_memory_gib()
        shutil.rmtree(run_dir, ignore_errors=True)
        tmp = self.path("tmp")
        os.makedirs(tmp)
        # Python temp files (the package zip shipped to workers, the
        # gateway's connection file) and the JVM's follow these.
        os.environ["TMPDIR"] = tmp
        os.environ[RUN_ENV] = run_dir
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        self.spark = None
        self.jvm = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def start_session(self):
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR
        from ai_data_matching_spark.session import build_session

        self.spark = build_session(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.partitions,
            extra_conf={
                "spark.driver.memory": f"{self.driver_gib}g",
                "spark.local.dir": self.path("spark-local"),
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": (
                    f"-XX:+UseParallelGC -Xms{self.driver_gib}g "
                    f"-Djava.io.tmpdir={self.path('tmp')} "
                    "-XX:-UsePerfData"
                ),
            },
        )
        self.jvm = Jvm(self.spark)
        log(
            f"session local[{self.cores}], {self.driver_gib}g driver, "
            f"up at {self.elapsed():.2f}s"
        )
        return self.spark

    def elapsed(self) -> float:
        return time.perf_counter() - self.t_start

    def close(self) -> None:
        """Stop Spark, wait for the JVM to exit, end whatever the run
        started that is still alive (the JVM's Python workers may
        outlive it), then delete the run directory."""
        try:
            if "pyspark" in sys.modules:
                from pyspark import SparkContext

                gateway = SparkContext._gateway
                if SparkContext._active_spark_context is not None:
                    SparkContext._active_spark_context.stop()
                if gateway is not None:
                    gateway.shutdown()
                    proc = getattr(gateway, "proc", None)
                    if proc is not None:
                        # the gateway JVM exits when its stdin closes
                        if proc.stdin is not None:
                            proc.stdin.close()
                        try:
                            proc.wait(timeout=60)
                        except subprocess.TimeoutExpired:
                            proc.kill()
                            proc.wait(timeout=30)
        finally:
            try:
                end_run_processes(self.dir)
            finally:
                shutil.rmtree(self.dir, ignore_errors=True)
                try:
                    os.rmdir(os.path.dirname(self.dir))
                except OSError:
                    pass  # another run's directory is still there


class Jvm:
    """Driver-JVM counters read through the management beans."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._heap = [
            p for p in mf.getMemoryPoolMXBeans() if str(p.getType().name()) == "HEAP"
        ]

    def gc_s(self) -> float:
        return sum(max(0, g.getCollectionTime()) for g in self._gcs) / 1000.0

    def reset_heap_peak(self) -> None:
        for p in self._heap:
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        """Sum of the heap pools' peak usage since the last reset."""
        return sum(p.getPeakUsage().getUsed() for p in self._heap) / 2**20


class Tracer:
    """Spans around calls into the engine's layers, kept in memory.

    Each span runs under its own Spark job group, so its ``jobs`` count is
    exactly the jobs its call launched; the previous group is restored on
    exit (a group left set would absorb every later job). ``tags`` are
    merged into every span opened while set (the stream cycle tags spans
    with the drop they belong to).
    """

    def __init__(self, spark, jvm: Jvm):
        self.sc = spark.sparkContext
        self.jvm = jvm
        self.spans: list[dict] = []
        self.tags: dict = {}
        self._ids = count()

    @contextmanager
    def span(self, name: str):
        group = f"perfbench-{next(self._ids)}-{name}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        rec = {"name": name, **self.tags, "rows": 0}
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        gc0 = self.jvm.gc_s()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["s"] = rec["end"] - rec["start"]
            rec["gc_s"] = self.jvm.gc_s() - gc0
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            rec["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(group))
            self.spans.append(rec)

    def select(self, name: str, **tags) -> list[dict]:
        return [
            s
            for s in self.spans
            if s["name"] == name and all(s.get(k) == v for k, v in tags.items())
        ]

    def total(self, name: str, field: str = "s", **tags) -> float:
        return float(sum(s[field] for s in self.select(name, **tags)))

    def total_where(self, field: str, prefix: str = "", **tags) -> float:
        """Sum of ``field`` over spans whose name starts with ``prefix``
        and that carry ``tags``."""
        return float(
            sum(
                s[field]
                for s in self.spans
                if s["name"].startswith(prefix)
                and all(s.get(k) == v for k, v in tags.items())
            )
        )


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total / 2**20


class TimingBackend:
    """Snapshot backend wrapper: times each snapshot and metric write and
    counts snapshot reads, delegating everything to the wrapped backend.

    ``write_snapshot`` is where a stage's lazy plan executes, so its span
    is the stage's compute plus its parquet write.
    """

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer

    def __getattr__(self, attr):
        return getattr(self._inner, attr)

    def write_snapshot(self, df, stage: str, snapshot_id: str) -> dict:
        with self._tracer.span(f"tables.commit.{stage}") as rec:
            locator = self._inner.write_snapshot(df, stage, snapshot_id)
        rows = self._inner.snapshot_stats(locator)
        rec["rows"] = sum(rows) if rows else 0
        rec["mb"] = dir_mb(locator["path"]) if "path" in locator else 0.0
        return locator

    def read_snapshot(self, spark, rec: dict):
        with self._tracer.span("tables.read"):
            return self._inner.read_snapshot(spark, rec)

    def write_metric(self, df, stage: str, name: str) -> None:
        with self._tracer.span("tables.metric"):
            self._inner.write_metric(df, stage, name)


def _calibration_work(_: int) -> float:
    """A pure-Python loop (CPU) plus a streaming pass over 64 MB (memory
    bandwidth): the two resources the host's other tenants contend for."""
    import numpy as np

    a = np.random.rand(8_000_000)
    t0 = time.perf_counter()
    acc = 0
    for i in range(6_000_000):
        acc += i * i
    for _ in range(6):
        float((a * 1.0001).sum())
    return time.perf_counter() - t0


def calibrate(cores: int) -> float:
    """The host's current speed: the median time of ``_calibration_work``
    run on every core at once. The engine never runs here, so no change to
    it can move this number; the host's other tenants can, by up to 1.7x
    within an hour. Traced runs report it, so that per-layer times from
    different runs can be read against it.

    The work runs in plain child processes (this file run as a script),
    each waited for, rather than a multiprocessing pool, whose resource
    tracker process would outlive the run."""
    procs = [
        subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--calibrate"],
            stdout=subprocess.PIPE,
            text=True,
        )
        for _ in range(cores)
    ]
    times = []
    try:
        for p in procs:
            out, _ = p.communicate(timeout=120)
            if p.returncode != 0:
                raise RuntimeError(f"calibration exited {p.returncode}")
            times.append(float(out))
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
    return median(times)


def log(msg: str) -> None:
    """Progress for humans, on standard error (standard output ends with
    the result line)."""
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def run_window(op, seconds: float, trace: bool) -> list:
    """Closed loop, one operation in flight: call ``op(traced)`` until the
    next call is expected to overrun ``seconds`` of operation time (at
    least one call). Returns the per-call results; each result's ``s``
    field is its timed duration.

    With ``trace`` calls alternate untraced / traced, starting and ending
    untraced, so every traced call sits between two untraced ones and the
    warm-up trend (each pass a little faster than the last) cancels out of
    the traced-minus-untraced overhead."""
    results: list = []
    busy = 0.0
    while True:
        traced = trace and len(results) % 2 == 1
        r = op(traced)
        results.append(r)
        log(f"op {len(results)}: {r}")
        busy += r["s"]
        if trace and (len(results) < 3 or traced):
            continue
        if busy + median(x["s"] for x in results) > seconds:
            return results

if __name__ == "__main__":
    if sys.argv[1:] == ["--calibrate"]:
        print(_calibration_work(0))
    else:
        sys.exit("usage: harness.py --calibrate")
