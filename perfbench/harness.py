"""Shared machinery of the benchmark: the Spark session, the closed timing
loop, the span tracer with its status-store counters, and the summary
statistics.

Untraced runs touch nothing but wall clocks.  Traced runs also record one
span (name, start, end, parent, op id) per call the benchmark makes into a
module's public function, tag the span's work with a Spark job group, and
read the per-layer counters from Spark's in-process status stores after
each op (never during one).  Jobs are assigned to a span by submission
time, which is exact for a single-threaded client and also covers jobs a
streaming query runs under its own job group.
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import time
from contextlib import contextmanager


def cores() -> int:
    return len(os.sched_getaffinity(0))


def cpu_steal() -> tuple[int, int]:
    """(steal, all) CPU time of the machine so far, in clock ticks, from
    /proc/stat: time a virtual machine's CPUs waited for the host."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def start_spark(work: str):
    """The repository's own session factory on ``local[<cores>]``, with
    every scratch location (shuffle files, warehouse, JVM temp) inside
    ``work``.  Returns ``(spark, seconds)``."""
    from data_engineering_challenge_spark.session import get_spark

    n = cores()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the environment variable wins over spark.local.dir, so pin both;
    # no JVM of the run may keep its perf-data file in the system temp dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData"
    ).strip()
    # the heap starts at its maximum: left to grow from the JVM's default
    # initial size, it grew to a different size in every run (one seed's
    # peak RSS ranged over 1.2-1.6 GB), so peak_rss_mb measured the
    # growth policy rather than the program
    heap = "1g"  # Spark's default spark.driver.memory, made explicit
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.memory": heap,
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the context, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set so far of the Spark JVM plus this Python client."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    py = max(_vm_hwm_kb("self"), resource.getrusage(resource.RUSAGE_SELF).ru_maxrss)
    return (_vm_hwm_kb(pid) + py) / 1024.0


# -- statistics --------------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1]); 0 when empty."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


def mean(xs) -> float:
    return float(sum(xs) / len(xs)) if xs else 0.0


def warm_up(fn, seconds: float, least: int) -> None:
    """Call ``fn`` until ``seconds`` have passed and it ran ``least``
    times.  The JVM's optimizing compiler
    keeps speeding the ops up for about a minute of running, so a fixed
    count of warm-up ops would leave each run at a different point of
    that curve."""
    t0, n = time.perf_counter(), 0
    while n < least or time.perf_counter() - t0 < seconds:
        fn()
        n += 1


def repeat_median(fn, times: int) -> tuple[float, object]:
    """Run ``fn`` ``times`` times; median wall time and the last result."""
    walls, out = [], None
    for _ in range(times):
        t0 = time.perf_counter()
        out = fn()
        walls.append(time.perf_counter() - t0)
    return median(walls), out


# -- closed loop ---------------------------------------------------------------


class Loop:
    """Closed loop: ``run(op)`` until ``seconds`` have passed since
    the first timed op started.  Each op is timed on its own; a raised
    exception counts the op as failed and the loop goes on."""

    def __init__(self, seconds: float):
        self.seconds = seconds
        self.samples: list[tuple[str, float]] = []  # (kind, wall seconds)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._deadline = None

    def time_left(self) -> bool:
        if self._deadline is None:
            self._deadline = time.perf_counter() + self.seconds
        return time.perf_counter() < self._deadline

    def run(self, kind: str, op, *args):
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = op(*args)
        except Exception as e:  # noqa: BLE001 - a failed op is data here
            self.failed += 1
            self.errors.append(f"{kind}: {type(e).__name__}: {e}"[:500])
            return None
        self.samples.append((kind, time.perf_counter() - t0))
        return out

    def walls(self, *kinds: str) -> list[float]:
        return [w for k, w in self.samples if not kinds or k in kinds]


# -- tracing -------------------------------------------------------------------


class NullTracer:
    """The untraced run: spans cost one context-manager entry."""

    enabled = False

    @contextmanager
    def span(self, name: str):
        yield None

    def begin_measure(self) -> None:
        pass

    def wrap(self, obj, method: str, name: str) -> None:
        pass

    def collect(self) -> None:
        pass


class Tracer:
    """In-memory span recorder with status-store counters.

    ``span`` sets a job group named after the span.  ``collect``, called
    between ops so that it stays out of their timings, drains the listener
    bus once and gives every span closed since the last call the Spark jobs
    submitted inside it, with their stages' counters summed."""

    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_job = 0
        self._first = 0  # spans before this id are set-up and warm-up
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        sp = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else sid,  # the outermost span's id
            "start": time.time(),
            "end": None,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(f"perfbench:{sp['id']}:{name}", name)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(
                    f"perfbench:{parent['id']}:{parent['name']}", parent["name"]
                )
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, obj, method: str, name: str) -> None:
        """Shadow ``obj.method`` with a spanned call (instance attribute,
        so the class and every other instance stay untouched)."""
        fn = getattr(obj, method)

        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(obj, method, traced)

    # -- status-store reads ---------------------------------------------------

    def _seq(self, seq):
        return [seq.apply(i) for i in range(seq.length())]

    @staticmethod
    def _opt_ms(opt):
        return opt.get().getTime() / 1000.0 if opt.isDefined() else None

    def _stage_attempts(self, stage_id: int) -> list:
        # a Scala method with default arguments: py4j must pass all five
        jvm = self.sc._jvm
        return self._seq(self.store.stageData(
            stage_id, False, jvm.java.util.ArrayList(), False,
            self.sc._gateway.new_array(jvm.double, 0),
        ))

    def collect(self) -> None:
        t0 = time.perf_counter()
        self.jsc.listenerBus().waitUntilEmpty()
        jobs, all_jobs = [], self.store.jobsList(None)  # newest first
        for i in range(all_jobs.length()):
            j = all_jobs.apply(i)
            if j.jobId() < self._next_job:
                break
            jobs.append(j)
        recs = []
        for j in jobs:
            self._next_job = max(self._next_job, j.jobId() + 1)
            st = [
                a for sid in self._seq(j.stageIds())
                for a in self._stage_attempts(sid)
            ]
            recs.append({
                "job": j.jobId(),
                "start": self._opt_ms(j.submissionTime()),
                "end": self._opt_ms(j.completionTime()),
                "stages": sum(1 for a in st if str(a.status()) == "COMPLETE"),
                "tasks": sum(a.numCompleteTasks() for a in st),
                "task_s": sum(a.executorRunTime() for a in st) / 1000.0,
                "shuffle_read_mb": sum(a.shuffleReadBytes() for a in st) / 2**20,
                "shuffle_write_mb": sum(a.shuffleWriteBytes() for a in st) / 2**20,
                "spill_mb": sum(
                    a.diskBytesSpilled() + a.memoryBytesSpilled() for a in st
                ) / 2**20,
            })
        # every span closed since the last read owns the jobs submitted
        # inside it (1 ms slack: job times are truncated to milliseconds)
        for sp in self.spans:
            if "jobs" not in sp and sp["end"] is not None:
                sp["jobs"] = [
                    r for r in recs
                    if r["start"] is not None
                    and sp["start"] - 0.001 <= r["start"] <= sp["end"]
                ]
        self.bookkeeping_s += time.perf_counter() - t0

    def gc_s(self) -> float:
        ex = self._seq(self.store.executorList(True))
        return sum(e.totalGCTime() for e in ex) / 1000.0

    # -- summaries --------------------------------------------------------------

    def begin_measure(self) -> None:
        """Leave every span so far (set-up, warm-up) out of the summaries."""
        self._first = len(self.spans)

    def named(self, name: str) -> list[dict]:
        return [
            s for s in self.spans[self._first:]
            if s["name"] == name and s["end"] is not None
        ]

    @staticmethod
    def total(span: dict, key: str) -> float:
        return float(sum(j[key] for j in span["jobs"]))

    @staticmethod
    def busy_s(span: dict) -> float:
        """Length of the union of the span's job intervals."""
        iv = sorted(
            (j["start"], j["end"]) for j in span["jobs"]
            if j["start"] is not None and j["end"] is not None
        )
        busy, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in iv:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    busy += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            busy += cur_hi - cur_lo
        return busy

    def exec_metrics(self, op_name: str) -> dict:
        """``spark.exec.*`` and ``spark.driver.gap_s``, per op span."""
        ops = self.named(op_name)
        return {
            "spark.exec.jobs": mean([len(s["jobs"]) for s in ops]),
            "spark.exec.stages": mean([self.total(s, "stages") for s in ops]),
            "spark.exec.tasks": mean([self.total(s, "tasks") for s in ops]),
            "spark.exec.task_s": mean([self.total(s, "task_s") for s in ops]),
            "spark.exec.shuffle_mb": mean(
                [self.total(s, "shuffle_read_mb") + self.total(s, "shuffle_write_mb") for s in ops]
            ),
            "spark.driver.gap_s": median(
                [max(0.0, s["end"] - s["start"] - self.busy_s(s)) for s in ops]
            ),
        }

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1)
