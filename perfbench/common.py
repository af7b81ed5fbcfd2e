"""Shared pieces of the benchmark: the Spark session it owns, per-phase
job accounting, the pass result record and small statistics helpers.

Everything here times the program from outside: calls into its public
functions, Spark job groups and ``statusTracker``. Nothing in
``gfw_pixetl_spark`` is patched.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def quantile(values, q: float) -> float:
    """Nearest-rank quantile; 0 for no values."""
    values = sorted(values)
    if not values:
        return 0.0
    k = min(len(values) - 1, max(0, int(round(q * (len(values) - 1)))))
    return float(values[k])


def other_spark_jvms() -> list[int]:
    """Pids of Spark JVMs already running on the host. Timings taken
    next to another Spark JVM measure the contention, not the program."""
    pids = []
    for entry in Path("/proc").iterdir():
        if not entry.name.isdigit() or int(entry.name) == os.getpid():
            continue
        try:
            cmd = (entry / "cmdline").read_bytes()
        except OSError:
            continue
        if b"org.apache.spark.deploy.SparkSubmit" in cmd:
            pids.append(int(entry.name))
    return pids


@dataclass
class Session:
    """The benchmark's own SparkSession on ``local[nproc]``, with every
    scratch path Spark and the program write to kept under ``work``."""

    root: Path
    work: Path
    nproc: int
    spark: object = None
    start_s: float = 0.0

    def start(self) -> None:
        tmp = self.work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        # Python workers import the package from the checkout; the program's
        # own tempfile users (tile jobs) land under the run's work dir.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [str(self.root)] + [p for p in os.environ.get(
                "PYTHONPATH", "").split(os.pathsep) if p])
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
        os.environ["TMPDIR"] = str(tmp)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.nproc)
        # the short-lived launcher JVM that spark-submit starts first
        os.environ["SPARK_LAUNCHER_OPTS"] = (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR
        t0 = time.perf_counter()
        from gfw_pixetl_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc,
            extra_conf={
                "spark.driver.memory": "3g",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": str(self.work / "spark-local"),
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                # keep the JVM's temp files (and its perf-data file,
                # which ignores java.io.tmpdir) out of the system /tmp
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0

    def stop(self) -> None:
        """Stop Spark and wait for its JVM (and the Python workers it
        forked) to exit."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


@dataclass
class PhaseRecord:
    name: str
    seconds: float
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0


class Phases:
    """Times the phases of one pass. With ``traced`` each phase also runs
    under its own Spark job group, so the jobs, stages and tasks it fired
    are read back from ``statusTracker``; untraced it only reads the
    clock, which is what the end-to-end numbers use."""

    def __init__(self, spark, traced: bool) -> None:
        self.spark = spark
        self.traced = traced
        self.records: list[PhaseRecord] = []

    @contextmanager
    def phase(self, name: str):
        sc = self.spark.sparkContext
        group = None
        if self.traced:
            group = f"perfbench-{name}-{uuid.uuid4().hex}"
            sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            rec = PhaseRecord(name, time.perf_counter() - t0)
            if group is not None:
                self._count(sc, group, rec)
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.records.append(rec)

    @staticmethod
    def _count(sc, group: str, rec: PhaseRecord) -> None:
        tracker = sc.statusTracker()
        for job in tracker.getJobIdsForGroup(group):
            rec.jobs += 1
            info = tracker.getJobInfo(job)
            for sid in (info.stageIds if info else []):
                stage = tracker.getStageInfo(sid)
                if stage is not None:
                    rec.stages += 1
                    rec.tasks += stage.numTasks
                    rec.failed_tasks += stage.numFailedTasks

    def total(self, *names: str) -> PhaseRecord:
        out = PhaseRecord("+".join(names), 0.0)
        for r in self.records:
            if r.name in names:
                out.seconds += r.seconds
                out.jobs += r.jobs
                out.stages += r.stages
                out.tasks += r.tasks
                out.failed_tasks += r.failed_tasks
        return out


@dataclass
class PassResult:
    """What one pass produced, for verification after the clock stops."""

    wall_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    phases: Phases | None = None
    detail: dict = field(default_factory=dict)

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        if len(self.problems) < 20:
            self.problems.append(what)
