"""Session set-up, op recording and summary statistics shared by the
workloads."""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional


SETUPS = 3  # set-ups per run; setup_s is their median


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str, trace: bool) -> None:
    """Everything Spark and its Python workers write goes under ``work``.
    Must run before the first SparkSession is created."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    root = os.getcwd()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    conf = [
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{log_dir}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf) + " pyspark-shell"


def start_session():
    from jena_spark.session import get_spark

    n = cpus()
    spark = get_spark(app="perfbench", master=f"local[{n}]", shuffle_partitions=n)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _identity(batches):
    yield from batches


def warm_up(spark) -> None:
    """Start every Python worker (pandas + Arrow) and run one shuffle."""
    n = cpus()
    spark.range(0, 4 * n, numPartitions=n).mapInPandas(_identity, "id long").count()
    spark.range(0, 1000, numPartitions=n).selectExpr("id % 7 AS k").groupBy("k").count().collect()


@dataclass
class SetupResult:
    spark: object
    times: List[float]
    jvm_start_s: float
    worker_warmup_s: float


def set_up(generate: Callable[[], None]) -> SetupResult:
    """Start the session, warm it up and generate the inputs, ``SETUPS``
    times; each later set-up stops the previous SparkContext first.  The
    first set-up also starts the JVM."""
    times: List[float] = []
    spark = None
    jvm = warm = 0.0
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session()
        t1 = time.perf_counter()
        warm_up(spark)
        t2 = time.perf_counter()
        generate()
        times.append(time.perf_counter() - t0)
        if i == 0:
            jvm, warm = t1 - t0, t2 - t1
    return SetupResult(spark, times, jvm, warm)


@dataclass
class OpRecord:
    cls: str
    ms: float
    ok: bool
    wrong: bool = False  # completed with an answer the oracle rejects
    error: str = ""


@dataclass
class Recorder:
    """Closed-loop op log.  An op fails when it raises or its answer is
    wrong; only the second makes the run incorrect."""

    ops: List[OpRecord] = field(default_factory=list)
    pending: list = field(default_factory=list)

    def run(self, cls: str, fn: Callable[[], Callable[[], Optional[str]]],
            defer: bool = False) -> OpRecord:
        """Times ``fn`` (the product calls); the check it returns runs
        after the clock stops and gives an error message or ``None``.
        With ``defer`` the check waits for :meth:`settle`."""
        t0 = time.perf_counter()
        try:
            check = fn()
        except Exception as e:  # noqa: BLE001 - a failed op is data
            ms = (time.perf_counter() - t0) * 1000
            last = traceback.format_exception_only(type(e), e)[-1].strip()
            rec = OpRecord(cls, ms, False, False, last.splitlines()[0][:300])
        else:
            rec = OpRecord(cls, (time.perf_counter() - t0) * 1000, True)
            if defer:
                self.pending.append((rec, check))
            else:
                _apply_check(rec, check)
        self.ops.append(rec)
        return rec

    def settle(self) -> None:
        """Run the deferred checks."""
        for rec, check in self.pending:
            _apply_check(rec, check)
        self.pending.clear()

    def by_class(self) -> Dict[str, List[OpRecord]]:
        out: Dict[str, List[OpRecord]] = {}
        for r in self.ops:
            out.setdefault(r.cls, []).append(r)
        return out


def _apply_check(rec: OpRecord, check: Callable[[], Optional[str]]) -> None:
    err = check()
    rec.ok, rec.wrong, rec.error = err is None, err is not None, err or ""


def latency_summary(samples: List[float]) -> dict:
    """Median with its sample count, plus the highest percentile that has
    at least ten samples beyond it."""
    out = {"median": statistics.median(samples), "n": len(samples)}
    n = len(samples)
    for q in (99, 95, 90):
        if n * (100 - q) / 100 >= 10:
            out[f"p{q}"] = statistics.quantiles(samples, n=100)[q - 1]
            break
    return out


def geomean(values: List[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def md5_rate(seconds: float = 0.25) -> float:
    """Single-core md5 chain rate in Mops/s (co-tenant contention probe)."""
    h = b"x"
    n = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        for _ in range(20_000):
            h = hashlib.md5(h).digest()
        n += 20_000
    return n / (time.perf_counter() - t0) / 1e6


def cpu_ticks() -> tuple:
    """(steal, total) jiffies of all CPUs since boot; steal is time the
    hypervisor ran something else while this VM wanted the CPU."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return (0, 0)
    return (fields[7] if len(fields) > 7 else 0, sum(fields))


def noise_probe() -> dict:
    return {"loadavg_1m": os.getloadavg()[0], "md5_1core_mops": md5_rate()}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
