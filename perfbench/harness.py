"""Shared machinery of the benchmark: the pinned Spark session and its
set-up, the engine's memory sampler, order-insensitive row digests and
small statistics helpers.

Nothing here imports pyspark at module load, so ``run.py`` can pin the
environment after importing this module.
"""

from __future__ import annotations

import contextlib
import os
import re
import statistics
import threading
import time

# ----------------------------------------------------------------- stats

def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def repeat_for(seconds: float, op, wall_of) -> list:
    """Run ``op`` at least once, and again while the next run is
    expected (from the median so far) to end within ``seconds`` of the
    start. Returns every run's result; ``wall_of`` reads its seconds."""
    t_end = time.monotonic() + seconds
    runs = [op()]
    while time.monotonic() + median([wall_of(r) for r in runs]) <= t_end:
        runs.append(op())
    return runs


# ------------------------------------------------------- process memory

def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may contain spaces; ppid is the 2nd field after ')'
        out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def _rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


#: In ``/proc/<pid>/smaps``: a mapping's header line, or its Rss line.
_SMAPS = re.compile(r"^([0-9a-f]+)-([0-9a-f]+) |^Rss:\s+(\d+)", re.M)


def _heap_rss_kib(pid: int, lo: int, hi: int) -> int:
    """Resident KiB of the process's mappings inside [lo, hi)."""
    try:
        with open(f"/proc/{pid}/smaps") as f:
            text = f.read()
    except OSError:
        return 0
    total, inside = 0, False
    for m in _SMAPS.finditer(text):
        if m.group(1):
            inside = int(m.group(1), 16) < hi and int(m.group(2), 16) > lo
        elif inside:
            total += int(m.group(3))
    return total


#: A collection's line in the JVM's gc log: heap in use before -> after.
_GC_PAUSE = re.compile(r"Pause (?:Young|Full)\b.* (\d+)M->(\d+)M\(")


class MemSampler:
    """Memory the engine holds over the measured region, in MiB.

    Two parts, summed:
      * the Java heap retained: the largest heap in use right after a
        collection during the region, from the JVM's gc log. The heap
        in use before a collection, and the heap's resident size, follow
        the collector's sizing rather than what the program keeps;
      * the peak resident memory outside the heap, sampled from /proc:
        the JVM's RSS less its heap mappings (metaspace, code, thread
        stacks, direct and Arrow buffers), plus the RSS of its Python
        workers. Only Python descendants count besides the JVM: its
        transient spawn children (between fork and exec) share its
        address space and would count it twice.

    A sample every two seconds: one read of the JVM's smaps costs some
    20 ms of CPU in the kernel (a walk of its page tables under the
    memory map lock), so sampling more often slows what it measures.
    """

    def __init__(self, bench: "Bench", period_s: float = 2.0):
        self.b = bench
        self.period_s = period_s
        self.peak_off_heap_kib = 0
        self.heap_mib = 0.0
        self._jvm_pid = bench.spark.sparkContext._gateway.proc.pid
        self._log_pos = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "MemSampler":
        self._log_pos = os.path.getsize(self.b.jvm_log)
        self._thread.start()
        return self

    def halt(self) -> None:
        """Stop the sampling thread."""
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=10)

    def stop(self) -> float:
        """Stop sampling; returns the total in MiB (see the class doc)."""
        self.halt()
        self.sample()
        with open(self.b.jvm_log) as f:
            f.seek(self._log_pos)
            after = [int(m.group(2)) for m in _GC_PAUSE.finditer(f.read())]
        if after:
            self.heap_mib = float(max(after))
        else:  # no collection in the region: all of the heap in use
            mf = self.b.spark.sparkContext._jvm.java.lang.management \
                .ManagementFactory
            self.heap_mib = mf.getMemoryMXBean().getHeapMemoryUsage() \
                .getUsed() / 2**20
        return self.heap_mib + self.peak_off_heap_kib / 1024.0

    def sample(self) -> int:
        kids: dict[int, list[int]] = {}
        for p, pp in _ppid_map().items():
            kids.setdefault(pp, []).append(p)
        jvm = self._jvm_pid
        total = _rss_kib(jvm) - _heap_rss_kib(jvm, *self.b.heap_range)
        stack = list(kids.get(jvm, []))
        while stack:
            p = stack.pop()
            if _comm(p).startswith("python"):
                total += _rss_kib(p)
                stack.extend(kids.get(p, []))
        self.peak_off_heap_kib = max(self.peak_off_heap_kib, total)
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period_s)


def ram_gib() -> float:
    with open("/proc/meminfo") as f:
        return int(f.readline().split()[1]) / 2**20


def seconds_since_process_start() -> float:
    """Wall seconds since this interpreter was exec'd (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------- sessions

class Bench:
    """Per-run context: the pinned run directory, core count, and the
    current SparkSession."""

    def __init__(self, run_dir: str, cores: int, seed: int, seconds: float,
                 trace: bool):
        self.run_dir = run_dir
        self.cores = cores
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        #: ``spans.Tracer`` while a traced pass runs, else None.
        self.tracer = None
        self.spark = None
        self.getspark_s = 0.0
        self.heap_range = (0, 0)
        self._n = 0
        #: process start on the monotonic clock (for set-up time)
        self.t_start = time.monotonic() - seconds_since_process_start()

    def span(self, name: str):
        """A span in the traced pass; a no-op otherwise."""
        return (self.tracer.span(name) if self.tracer is not None
                else contextlib.nullcontext())

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def fresh_dir(self, tag: str) -> str:
        """A new, never-used directory under the run dir."""
        self._n += 1
        p = self.path(f"{tag}-{self._n:03d}")
        os.makedirs(p)
        return p

    def start_session(self) -> None:
        """Start the run's one session (and with it the JVM); keeps the
        seconds ``get_spark`` took and the Java heap's address range."""
        from dataflow_flex_templates_spark.session import get_spark

        self.jvm_log = self.path("tmp", "jvm.log")
        extra = {
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # temp files stay in the run dir (no hsperfdata in /tmp); the
            # heap's address and every collection go to a log, for
            # ``MemSampler``; the heap is sized once, so run times do not
            # depend on when the collector chose to grow it
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData "
                f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} "
                f"-Xlog:gc+heap+coops=debug,gc=info:file={self.jvm_log}",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "true" if self.trace else "false",
            "spark.ui.port": "0",
            "spark.sql.ui.retainedExecutions": "5000",
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "10000",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        }
        t0 = time.monotonic()
        self.spark = get_spark("perfbench", cores=self.cores, extra=extra)
        self.getspark_s = time.monotonic() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        with open(self.jvm_log) as f:
            m = re.search(r"Heap address: (0x[0-9a-f]+), size: (\d+) MB",
                          f.read())
        lo = int(m.group(1), 16)
        self.heap_range = (lo, lo + int(m.group(2)) * 2**20)

    def setup(self, fixtures, warm_up) -> None:
        """Start the session, build the fixtures, warm up."""
        self.start_session()
        fixtures()
        warm_up()

    def stop(self) -> None:
        """Stop the session, shut the py4j gateway down and wait for the
        JVM (and with it the Python worker daemon) to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()

    def env_info(self) -> dict:
        import pyspark

        jvm = self.spark.sparkContext._jvm
        return {
            "nproc": self.cores,
            "ram_gib": round(ram_gib(), 1),
            "pyspark": pyspark.__version__,
            "java": jvm.System.getProperty("java.version"),
            "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY"),
        }


# -------------------------------------------------------------- digests

def row_digest(df, cols: list[str]) -> tuple[int, int, int]:
    """Order-insensitive multiset digest of ``df[cols]``: row count and
    the wrapping 64-bit sums of two independent row hashes."""
    from pyspark.sql import functions as F

    r = (df.select(F.xxhash64(*cols).alias("x"),
                   F.hash(*cols).cast("long").alias("m"))
         .agg(F.count("*").alias("n"), F.sum("x").alias("sx"),
              F.sum("m").alias("sm"))
         .collect()[0])
    return int(r["n"]), int(r["sx"] or 0), int(r["sm"] or 0)
