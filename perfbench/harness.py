"""Session lifecycle, timing and result output shared by the workloads.

Everything the benchmark writes (inputs, tile stores, Spark scratch,
event logs) lives under ``<checkout>/.perfbench_out/<run>/`` and is
removed when the run ends.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: one Spark driver JVM, at most 4 local task slots (never more than nproc)
PARALLELISM = max(1, min(4, os.cpu_count() or 1))


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


@dataclass
class Run:
    """Paths and settings of one benchmark invocation."""

    workload: str
    seed: int
    seconds: int
    trace: bool
    dir: str = ""

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)


def make_run_dir(run: Run) -> None:
    base = os.path.join(ROOT, ".perfbench_out")
    run.dir = os.path.join(base, f"{run.workload}-s{run.seed}-p{os.getpid()}")
    shutil.rmtree(run.dir, ignore_errors=True)
    for sub in ("in", "local", "tmp", "work", "events"):
        os.makedirs(run.path(sub), exist_ok=True)
    # Spark scratch, the JVM's and Python's temp files stay in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = run.path("local")
    os.environ["TMPDIR"] = run.path("tmp")
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = str(PARALLELISM)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # the workers import gdal_spark from the checkout; traced runs also
    # start their Python workers from perfbench/callprobe.py
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE if run.trace else "",
                    os.environ.get("PYTHONPATH", "")) if p)
    os.environ["PERFBENCH_CALL_LOG"] = run.path("calls.tsv") if run.trace else ""


def start_session(run: Run):
    from gdal_spark.session import get_session

    conf = {
        "spark.local.dir": run.path("local"),
        "spark.sql.warehouse.dir": run.path("work", "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run.path('tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if run.trace:
        # the event log is turned on and off later (EventLog), so that
        # the same session times repetitions with and without it
        conf.update({
            "spark.eventLog.enabled": "false",
            "spark.eventLog.dir": "file://" + run.path("events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.logStageExecutorMetrics": "true",
            "spark.executor.processTreeMetrics.enabled": "true",
            # task-level memory peaks, not only the 10 s heartbeat's: the
            # event log is on for a few seconds at a time
            "spark.executor.metrics.pollingInterval": "250ms",
            "spark.python.daemon.module": "callprobe",
        })
    return get_session(app_name=f"perfbench_{run.workload}",
                       master=f"local[{PARALLELISM}]", extra_conf=conf)


class EventLog:
    """Spark's event log listener, started on a running session and put
    on or taken off its listener bus, so that one session runs jobs both
    with and without the event log.  It writes to the session's
    ``spark.eventLog.dir`` like Spark's own."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.jsc = sc._jsc.sc()
        jvm = sc._jvm
        self.listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self.jsc.applicationId(), jvm.scala.Option.apply(None),
            jvm.java.net.URI(self.jsc.conf().get("spark.eventLog.dir")),
            self.jsc.conf(), self.jsc.hadoopConfiguration())
        self.listener.start()

    def on(self) -> None:
        self.jsc.addSparkListener(self.listener)

    def off(self) -> None:
        """Deliver every queued event, then stop listening."""
        self.jsc.listenerBus().waitUntilEmpty()
        self.jsc.removeSparkListener(self.listener)

    def close(self) -> None:
        self.listener.stop()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark, shut the JVM down and wait until it and every Python
    worker it forked have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    procs = _descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while any(_alive(p) for p in procs) and time.time() < deadline:
        time.sleep(0.1)
    for p in procs:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    for p in procs:
        try:
            os.waitpid(p, 0)
        except (ChildProcessError, OSError):
            pass


def noop(df) -> None:
    """Materialise a DataFrame without collecting it."""
    df.write.format("noop").mode("overwrite").save()


class Tracer:
    """Job descriptions ``<layer>|<step>|<pass>`` around each layer
    materialisation, plus a wall-clock span per materialisation.  Spans
    stay in memory; the event log gives the stage-level numbers."""

    def __init__(self, spark, run_tag: str):
        self.sc = spark.sparkContext
        self.run_tag = run_tag
        self.spans: dict[tuple[str, str], float] = {}

    def span(self, layer: str, step: str, fn):
        self.sc.setJobDescription(f"{layer}|{step}|{self.run_tag}")
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            dt = time.perf_counter() - t0
            self.spans[(layer, step)] = self.spans.get((layer, step), 0.0) + dt
            self.sc.setJobDescription(None)

    def s(self, layer: str, step: str) -> float:
        return self.spans.get((layer, step), 0.0)


def timed_loop(seconds: float, rep, min_reps: int) -> list[dict]:
    """Call rep() (returns a dict of timings) until `seconds` have passed
    and at least `min_reps` samples exist; never past 3 * seconds."""
    samples: list[dict] = []
    t0 = time.perf_counter()
    while True:
        samples.append(rep())
        el = time.perf_counter() - t0
        if el >= seconds and len(samples) >= min_reps:
            break
        if el >= 3 * seconds:
            break
    return samples


@dataclass
class Check:
    """Output check result: `passed` of `base` rows, with the named
    failures (empty when every row passed)."""

    base_desc: str
    base: int = 0
    passed: int = 0
    failures: list[str] = field(default_factory=list)

    def add(self, name: str, n: int, n_bad: int, detail: str = "") -> None:
        self.base += n
        self.passed += n - n_bad
        if n_bad:
            self.failures.append(f"{name}: {n_bad}/{n} failed {detail}".strip())

    @property
    def ratio(self) -> float:
        return self.passed / self.base if self.base else 0.0


def emit(correct: bool, attempted: int, failed: int,
         metrics: dict[str, tuple[float, str, int]], notes: list[str]) -> None:
    """Human-readable lines, then the one-line JSON result (last line)."""
    for line in notes:
        print(f"# {line}")
    for name, (value, unit, n) in metrics.items():
        print(f"# {name:<40} {value:>16.6g} {unit:<8} n={n}")
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _n) in metrics.items()},
    }), flush=True)
