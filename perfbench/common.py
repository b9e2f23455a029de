"""Shared pieces of the benchmark: the per-run sandbox, Spark session
set-up, spans, Spark-side counters and result formatting.

Everything that the program under test would otherwise write outside the
checkout (Spark local dirs, JVM and Python temp files, persisted ANN
indexes) is pointed into a fresh per-run directory before the JVM starts,
and the directory is removed when the run ends. So no run can be served
from state that an earlier run left behind.
"""

from __future__ import annotations

import os
import re
import shutil
import signal
import statistics
import sys
import time
from dataclasses import dataclass, field

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
DATA_DIR = os.path.join(BENCH_DIR, "data", "sf0.01")
TRACE_DIR = os.path.join(BENCH_DIR, "traces")

# Executed-plan operators that run Python code in worker processes.
PYTHON_OPS = ("ArrowEvalPython", "MapInPandas", "BatchEvalPython")
_PYTHON_OP_RE = re.compile(r"\b(" + "|".join(PYTHON_OPS) + r")\b")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


class Sandbox:
    """Per-run working directory and the environment that confines the
    program to it. Must be entered before pyspark starts its JVM."""

    def __init__(self, tag: str):
        self.dir = os.path.join(BENCH_DIR, ".work", f"{tag}-{os.getpid()}-{time.time_ns()}")
        self._n = 0

    def __enter__(self) -> "Sandbox":
        tmp = self.path("tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
        # Spark's Python workers import the package from the checkout root.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        )
        # every JVM, the spark-submit launcher included, keeps out of /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        os.environ["MYSENSE_INDEX_DIR"] = self.path("index")
        return self

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)

    def path(self, name: str) -> str:
        p = os.path.join(self.dir, name)
        os.makedirs(p, exist_ok=True)
        return p

    def fresh(self, name: str) -> str:
        """A directory path that nothing has used yet (not created)."""
        self._n += 1
        return os.path.join(self.dir, f"{name}-{self._n}")


def start_session(cores: int | None = None):
    """Start (or restart, in the same JVM) the program's own session."""
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    os.environ["SPARK_GRAFT_CPUS"] = str(cores or cpus())
    from mysense_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def adopt_orphans() -> None:
    """Make this process the one that adopts what its descendants leave
    behind (Linux PR_SET_CHILD_SUBREAPER), so the Python workers that the
    JVM starts can still be waited for after the JVM has ended."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            kids.append(int(d))
    return kids


def stop_all(grace_s: float = 30.0) -> None:
    """Stop Spark, end its JVM (which exits when its stdin closes) and wait
    until every process this run started has ended; whatever is still
    running after `grace_s` is killed, and waited for too."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception as e:  # the JVM is ended below either way
            print(f"# spark stop: {e!r}", file=sys.stderr)
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.stdin is not None and not proc.stdin.closed:
        proc.stdin.close()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + grace_s
    while kids := _children():
        late = time.monotonic() > deadline
        for pid in kids:
            try:
                if os.waitpid(pid, os.WNOHANG)[0] == 0 and late:
                    os.kill(pid, signal.SIGKILL)
            except (ChildProcessError, ProcessLookupError):
                pass
        time.sleep(0.02)


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def geomean(xs: list[float]) -> float:
    return float(statistics.geometric_mean(xs))


def host_probe(spark) -> float:
    """The repository's fixed-work host-speed probe (bench.py)."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from bench import calibration_probe

    return calibration_probe(spark)


def peak_rss_mb(spark) -> float:
    """High-water resident memory of the driver JVM plus this process."""
    total = 0
    for pid in (spark.sparkContext._gateway.proc.pid, os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory and written out once, when the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.overhead_s = 0.0

    def add(self, name: str, start: float, end: float, parent: str | None = None, **attrs) -> None:
        self.spans.append(Span(name, start, end, parent, attrs))

    def write(self, record: dict) -> str:
        import json

        os.makedirs(TRACE_DIR, exist_ok=True)
        path = os.path.join(TRACE_DIR, f"{self.run_id}.json")
        with open(path, "w") as fh:
            json.dump(
                {
                    **record,
                    "run_id": self.run_id,
                    "spans": [
                        {"name": s.name, "start": s.start, "end": s.end,
                         "parent": s.parent, "run_id": self.run_id, **s.attrs}
                        for s in self.spans
                    ],
                },
                fh,
                indent=1,
            )
        return path


class SparkCounters:
    """Reads what Spark did for one job group: jobs and stages from the
    status tracker, shuffle bytes from the JVM status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store is complete for the jobs that just finished."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def group(self, group: str) -> dict:
        jobs = self.tracker.getJobIdsForGroup(group)
        stages = tasks = shuffle = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            stages += len(info.stageIds)
            for s in info.stageIds:
                try:
                    data = self.store.lastStageAttempt(s)
                except Exception:  # evicted from the store: no byte counts
                    continue
                tasks += data.numTasks()
                shuffle += data.shuffleReadBytes() + data.shuffleWriteBytes()
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "shuffle_bytes": shuffle}

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()


def python_ops(df) -> int:
    """Python-worker operators in the executed (final, under AQE) plan."""
    return len(_PYTHON_OP_RE.findall(df._jdf.queryExecution().executedPlan().toString()))


def result(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> str:
    import json

    return json.dumps(
        {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    )
