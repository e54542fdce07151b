"""Shared machinery for the workloads: the Spark session pinned to the
host, warm-up, the host fingerprint, peak memory, statistics, and the
tracer that attributes Spark job/stage/task counters to layer spans.

Nothing here starts a process or opens a file at import time.
"""

from __future__ import annotations

import json
import os
import platform
import resource
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "sustainable_building_energy_benchmarking_pipeline_spark"
# max heap of the one driver JVM (local mode: the executors live in it)
DRIVER_MEMORY = "3g"


def nproc() -> int:
    """Cores this process may run on (affinity-aware, unlike cpu_count)."""
    return len(os.sched_getaffinity(0))


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def percentile(xs: list[float], q: int) -> float:
    """Interpolated percentile (q in 1..99) of a sample of two or more."""
    return float(statistics.quantiles(xs, n=100, method="inclusive")[q - 1])


# ---------------------------------------------------------------------------
# host fingerprint
# ---------------------------------------------------------------------------

def cpu_probe_ms() -> float:
    """Fixed single-core CPU probe: median of 5 timings of the same pure
    Python loop. Comparing it across results tells a slower host from a
    slower program."""
    def loop() -> int:
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + i) % 1_000_003
        return acc

    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        loop()
        times.append((time.perf_counter() - t0) * 1000.0)
    return median(times)


def host_fingerprint(spark) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": str(jvm.java.lang.System.getProperty("java.version")),
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "cpu_probe_ms": round(cpu_probe_ms(), 3),
    }


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

def start_session(repo_root: str, tmp_dir: str):
    """``local[nproc]`` session with shuffle partitions = nproc, built by
    the package's own ``get_spark`` (so its configs are what is measured).

    The repository root goes on PYTHONPATH before the JVM starts, so the
    Python workers it forks can import the package from any working
    directory (pandas UDFs unpickle functions that live in it). Spark's
    local directories, the JVM's temporary files and the Python temporary
    files all go to ``tmp_dir``, and the JVM keeps no perf-data file, so
    the run writes nothing outside its own directory."""
    path = os.environ.get("PYTHONPATH", "")
    if repo_root not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (repo_root, path) if p)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp_dir
    tempfile.tempdir = tmp_dir
    # the short-lived JVM that spark-submit runs to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData"
    from sustainable_building_energy_benchmarking_pipeline_spark.session import get_spark

    n = nproc()
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
        "spark.local.dir": tmp_dir,
        "spark.driver.host": "localhost",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        # the status store keeps every job/stage of a run, so a traced
        # run can read them back; the same in both modes, so tracing
        # differs from an untraced run only by its spans and job groups
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100",
    }
    return get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf=conf,
    )


def timed_setup(repo_root: str, tmp_dir: str, rounds: int, prepare) -> tuple:
    """Set up ``rounds`` times and return (spark, median seconds, samples).

    Each round is a session start, its first job, and ``prepare(spark)``,
    the workload's own input preparation. Round 1 also launches the JVM;
    later rounds stop the session and start a fresh SparkContext in the
    same JVM, so the median is the repeatable part of set-up."""
    samples = []
    spark = None
    state = None
    for r in range(rounds):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_session(repo_root, tmp_dir)
        spark.range(1).count()
        state = prepare(spark)
        samples.append(time.perf_counter() - t0)
    return spark, state, median(samples), samples


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit (its Python
    workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def memory_mb(spark) -> float:
    """Memory the run holds: JVM heap still live after a full collection,
    plus JVM non-heap (metaspace, code cache), plus this driver process's
    max RSS. Live heap rather than the JVM's RSS high-water mark, which
    moves by a third between identical runs with the collector's timing."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    jvm_bytes = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return jvm_bytes / 2**20 + own_kb / 1024.0


class Ops:
    """Attempted and failed operations, with the reason for each failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, name: str, fn, *args, **kwargs):
        """Run one operation; count it, and record and re-raise a failure."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            self.errors.append(f"{name}: {traceback.format_exc(limit=3)}")
            raise

    def fail(self, name: str, why: str) -> None:
        """Count an attempted operation that returned a wrong answer."""
        self.failed += 1
        self.errors.append(f"{name}: {why}")


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------

UNIT = "perfbench.unit"  # span around one measured unit of a workload


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    # Spark counters of the jobs submitted under this span's job group
    counters: dict = field(default_factory=dict)


_COUNTER_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "output_bytes", "job_wall_s",
)


class Tracer:
    """Spans around the benchmark's calls into each layer.

    When enabled, a span tags the Spark jobs it submits with its own job
    group; ``collect_counters`` then reads those jobs' stage and task
    counters from Spark's status REST API, so per-layer work comes from
    the engine, not from the program. Disabled, ``span`` only yields."""

    def __init__(self, spark, enabled: bool, run_id: str):
        self.spark = spark
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.t0 = time.perf_counter()
        self.own_s = 0.0  # time spent in the tracer's own bookkeeping

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"{self.run_id}:{span.sid}", span.name)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.sid if parent else None,
                  t_in - self.t0, attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        self.own_s += time.perf_counter() - t_in
        try:
            yield sp
        finally:
            t_out = time.perf_counter()
            sp.end = t_out - self.t0
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.own_s += time.perf_counter() - t_out

    # -- counters -----------------------------------------------------------

    def _rest(self, path: str):
        base = self.spark.sparkContext.uiWebUrl.rstrip("/")
        app = self.spark.sparkContext.applicationId
        with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/{path}", timeout=30) as r:
            return json.loads(r.read())

    def collect_counters(self) -> None:
        """Attach job/stage/task counters to every span (call once, after
        the traced units; drains the listener bus first)."""
        if not self.enabled or not self.spans:
            return
        from py4j.protocol import Py4JError

        try:  # the status store is fed asynchronously by the listener bus
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        except Py4JError:
            time.sleep(2.0)  # no such method in this Spark: let the bus drain
        jobs = self._rest("jobs")
        stages = {(s["stageId"], s["attemptId"]): s for s in self._rest("stages")}
        by_stage: dict[int, list] = {}
        for (sid, _att), s in stages.items():
            by_stage.setdefault(sid, []).append(s)
        prefix = f"{self.run_id}:"
        for sp in self.spans:
            sp.counters = dict.fromkeys(_COUNTER_KEYS, 0)
        for j in jobs:
            grp = j.get("jobGroup") or ""
            if not grp.startswith(prefix):
                continue
            sp = self.spans[int(grp[len(prefix):])]
            c = sp.counters
            c["jobs"] += 1
            c["job_wall_s"] += _job_wall_s(j)
            for sid in j.get("stageIds", []):
                for s in by_stage.get(sid, []):
                    if s.get("status") == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += s.get("numCompleteTasks", 0)
                    c["executor_run_s"] += s.get("executorRunTime", 0) / 1000.0
                    c["executor_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
                    c["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
                    c["shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
                    c["spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                    c["output_bytes"] += s.get("outputBytes", 0)

    # -- aggregation --------------------------------------------------------

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part its direct children cover."""
        kids = sum(c.end - c.start for c in self.spans if c.parent == sp.sid)
        return (sp.end - sp.start) - kids

    def totals(self, name: str) -> dict:
        """Summed wall, self time and counters over every span named
        ``name`` (children's counters are not folded in)."""
        out = dict.fromkeys(_COUNTER_KEYS, 0)
        out.update(wall_s=0.0, self_s=0.0, count=0)
        for sp in self.spans:
            if sp.name != name:
                continue
            out["count"] += 1
            out["wall_s"] += sp.end - sp.start
            out["self_s"] += self.self_time(sp)
            for k in _COUNTER_KEYS:
                out[k] += sp.counters.get(k, 0)
        return out

    def per_unit(self, name: str, key: str = "wall_s") -> list[float]:
        """One value per ``unit`` span: the summed wall time (``wall_s``),
        span count (``spans``) or Spark counter ``key`` of its descendant
        spans named ``name``."""
        out = []
        for u in self.spans:
            if u.name != UNIT:
                continue
            total = 0.0
            for sp in self.spans:
                if sp.name == name and self._within(sp, u.sid):
                    if key == "wall_s":
                        total += sp.end - sp.start
                    else:
                        total += 1 if key == "spans" else sp.counters.get(key, 0)
            out.append(total)
        return out

    def subtree(self, sp: Span, key: str) -> float:
        """Spark counter ``key`` of ``sp`` and all its descendant spans."""
        return sum(s.counters.get(key, 0) for s in self.spans
                   if s is sp or self._within(s, sp.sid))

    def _within(self, sp: Span, ancestor: int) -> bool:
        p = sp.parent
        while p is not None:
            if p == ancestor:
                return True
            p = self.spans[p].parent
        return False

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        names = sorted({sp.name for sp in self.spans})
        doc = {
            "run_id": self.run_id,
            "spans": [
                {
                    "id": sp.sid, "name": sp.name, "parent": sp.parent,
                    "start": round(sp.start, 6), "end": round(sp.end, 6),
                    "self_s": round(self.self_time(sp), 6), "run_id": self.run_id,
                    "attrs": sp.attrs, "counters": sp.counters,
                }
                for sp in self.spans
            ],
            "layers": {n: self.totals(n) for n in names},
            **extra,
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, default=str)


def _job_wall_s(job: dict) -> float:
    from datetime import datetime

    def parse(ts: str) -> float:
        return datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()

    try:
        return parse(job["completionTime"]) - parse(job["submissionTime"])
    except (KeyError, ValueError):
        return 0.0


def eprint(*args) -> None:
    print(*args, file=sys.stderr, flush=True)
