"""Shared machinery of the benchmark: the pinned environment, the Spark
session's start and stop, summary statistics and the tracer that measures
each layer from outside the program.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import tempfile
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
DATA_DIR = BENCH_DIR / "data"
RUNS_DIR = ROOT / ".perfbench"


def cpu_count() -> int:
    """Cores this process may run on: what ``nproc`` prints."""
    return len(os.sched_getaffinity(0))


def pin_environment(run_dir: Path, cpus: int) -> dict:
    """Point every scratch location of Python, the JVM and Spark into
    ``run_dir`` and fix the core count, before anything starts. Each run
    gets a fresh ``run_dir``, so no fixture, spill file or shuffle file
    survives from one run to the next."""
    tmp = run_dir / "tmp"
    local = run_dir / "spark-local"
    tmp.mkdir(parents=True)
    local.mkdir()
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None  # re-read TMPDIR on the next gettempdir()
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the JVM's own temp files and its perf-data file stay in the run too
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, str(ROOT))
    return {
        "master": f"local[{cpus}]",
        "shuffle_partitions": cpus,
        "spark_local_dirs": os.path.relpath(local, ROOT),
        "tmpdir": os.path.relpath(tmp, ROOT),
    }


def cpu_ticks() -> tuple[int, int]:
    """(all ticks, steal ticks) of the whole machine from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7]


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total > 0 else 0.0


def summary(values: list[float]) -> dict:
    """Median and the highest percentile with at least ten samples beyond
    it (never below the median), with the sample count. Nearest rank."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return {"median": None, "tail": None, "tail_pct": None, "n": 0}
    pct = max(50, math.floor(100 * (1 - 10 / n)))
    rank = max(1, math.ceil(pct / 100 * n))
    median = statistics.median(xs)
    return {"median": median, "tail": max(median, xs[rank - 1]), "tail_pct": pct, "n": n}


class Session:
    """One SparkSession for the run, on local[cpus] with as many shuffle
    partitions, started and stopped with the JVM waited for."""

    def __init__(self, cpus: int):
        from imagingdb_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=str(cpus))
        self.start_s = time.perf_counter() - t0
        self.cpus = cpus

    def calibrate(self) -> float:
        """Time a fixed shuffle job whose speed moves with the machine, not
        with this program, so runs on different hosts can be compared."""
        t0 = time.perf_counter()
        (
            self.spark.range(0, 4_000_000, 1, self.cpus)
            .selectExpr("id % 200000 as k", "shiftright(xxhash64(id), 32) as v")
            .groupBy("k")
            .sum("v")
            .count()
        )
        return time.perf_counter() - t0

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=120)


class Tracer:
    """Times calls into the program's layers. When enabled, each call runs
    under its own Spark job group and gets that group's job, stage, task,
    shuffle, spill and CPU counters from the live status store (which
    works with the UI disabled). Disabled, it only reads the clock."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self._seq = 0
        # inner public functions wrapped in a traced run: name -> seconds
        self.inner: dict[str, float] = defaultdict(float)
        self._restore: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        """Yield a dict that receives ``s`` (wall seconds) and, when
        tracing, the Spark counters of the jobs the call ran."""
        rec: dict = {}
        if not self.enabled:
            t0 = time.perf_counter()
            try:
                yield rec
            finally:
                rec["s"] = time.perf_counter() - t0
            return
        self._seq += 1
        group = f"perfbench-{self._seq}-{name}"
        before = self.job_ids()
        self.sc.setJobGroup(group, name)
        self.inner.clear()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            rec["inner"] = dict(self.inner)
            # a job a call submits from a helper thread of its own carries
            # no group; with one client, every job that appeared is its
            jobs = set(self.sc.statusTracker().getJobIdsForGroup(group))
            rec.update(self.job_counters(jobs | (self.job_ids() - before)))

    def job_counters(self, job_ids) -> dict:
        """Sum the counters of every stage the given jobs ran."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        stages: set[int] = set()
        for jid in job_ids:
            info = self.sc.statusTracker().getJobInfo(jid)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        c = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "run_s": 0.0,
             "cpu_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0}
        for sid in stages:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += sd.numTasks()
            c["run_s"] += sd.executorRunTime() / 1e3
            c["cpu_s"] += sd.executorCpuTime() / 1e9
            c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return c

    def job_ids(self) -> set[int]:
        """Ids of every job the status store holds. Streaming triggers run
        their jobs on the engine's threads, outside any group set here, so
        their jobs are the ones that appeared during a trigger."""
        if not self.enabled:
            return set()
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jobs = self.sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            jsc.statusStore().jobsList(None))
        return {j.jobId() for j in jobs}

    def wrap(self, module, attr: str, key: str) -> None:
        """Time every call of ``module.attr`` into ``self.inner[key]`` for
        the rest of a traced run; a plain run is left untouched."""
        if not self.enabled:
            return
        real = getattr(module, attr)
        inner = self.inner

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return real(*args, **kwargs)
            finally:
                inner[key] += time.perf_counter() - t0

        setattr(module, attr, timed)
        self._restore.append((module, attr, real))

    def unwrap(self) -> None:
        for module, attr, real in reversed(self._restore):
            setattr(module, attr, real)
        self._restore.clear()


def tree_files(path: Path) -> dict[str, int]:
    """Relative path -> size of every file under ``path``."""
    out = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[os.path.relpath(p, path)] = os.path.getsize(p)
            except FileNotFoundError:
                pass  # removed while walking
    return out


def new_files(before: dict[str, int], after: dict[str, int]) -> tuple[int, int]:
    """(count, bytes) of files in ``after`` that ``before`` lacked."""
    added = [k for k in after if k not in before]
    return len(added), sum(after[k] for k in added)


def fresh_run_dir(workload: str, seed: int) -> Path:
    d = RUNS_DIR / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    return d
