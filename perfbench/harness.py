"""Run context shared by the workloads: environment, session set-up,
output checks and the per-run record.

Every path a run writes is under ``perfbench/_run/<workload>/``, which
is wiped when the run starts: Spark's local and temp dirs, the event
log, the workload's generated inputs and the oracle fixtures the query
package writes.
"""

from __future__ import annotations

import importlib.util
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "data_engineering_spark")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_gb() -> int:
    """A quarter of physical memory, between 1 and 4 GB: the session's
    own default (16g) does not fit a small host."""
    with open("/proc/meminfo") as f:
        kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    return max(1, min(4, kb // (4 * 1024 * 1024)))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def since_process_start() -> float:
    """Seconds since this process started (kernel clock ticks)."""
    with open("/proc/self/stat") as f:
        start = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start / os.sysconf("SC_CLK_TCK")


def git_commit() -> str:
    """HEAD of the checkout's own repository; "unknown" when the
    checkout is not a git repository (git is never asked to search
    the directories above it)."""
    git_dir = os.path.join(ROOT, ".git")
    if not os.path.isdir(git_dir):
        return "unknown"
    try:
        out = subprocess.run(
            ["git", f"--git-dir={git_dir}", "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def median(xs):
    return statistics.median(xs) if xs else None


def quantile(xs, q: float):
    """Nearest-rank quantile (q in (0, 1]); None when empty."""
    if not xs:
        return None
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


class Run:
    """One benchmark run: its directories, session, checks and record."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.t0 = time.perf_counter()
        self.born = self.t0 - since_process_start()
        self.workload, self.seed = workload, seed
        self.seconds, self.trace = seconds, trace
        self.dir = os.path.join(HERE, "_run", workload)
        self.records = os.path.join(HERE, "_run", "records")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.records, exist_ok=True)
        for sub in ("tmp", "local", "eventlog", "fixtures", "data"):
            os.makedirs(os.path.join(self.dir, sub))
        self.cores = nproc()
        self.mem_gb = driver_mem_gb()
        os.environ.update(
            SPARK_GRAFT_CPUS=str(self.cores),
            SPARK_GRAFT_DRIVER_MEM=f"{self.mem_gb}g",
            SPARK_LOCAL_DIRS=self.path("local"),
            TMPDIR=self.path("tmp"),
        )
        self.steal0 = cpu_ticks()
        self.checks: dict[str, bool] = {}
        self.details: dict[str, str] = {}
        self.ops = 0  # timed operations attempted
        self.op_failures = 0
        self.record: dict = {
            "workload": workload, "seed": seed, "seconds": seconds,
            "trace": trace, "nproc": self.cores,
            "SPARK_GRAFT_CPUS": self.cores,
            "SPARK_GRAFT_DRIVER_MEM": f"{self.mem_gb}g",
            "commit": git_commit(),
            "timeline_s": {},
        }
        self.tracer = Tracer(f"{workload}-{seed}-{os.getpid()}", trace)
        self.spark = None

    def mark(self, phase: str) -> None:
        """Record when ``phase`` ended, in seconds since the run began."""
        self.record["timeline_s"][phase] = time.perf_counter() - self.t0

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    # -- package ---------------------------------------------------------
    def import_package(self) -> None:
        """Import the query package with its oracle-fixture directory
        moved under the run dir. ``_fixtures`` is loaded first, so the
        oracles the package registers at import already name the moved
        directory; the fixture pre-seeding from the repo's external test
        tables is switched off (the spark-then-oracle order here never
        needs it)."""
        sys.path.insert(0, ROOT)
        t0 = time.perf_counter()
        name = "data_engineering_spark.queries._fixtures"
        spec = importlib.util.spec_from_file_location(
            name, os.path.join(PACKAGE, "queries", "_fixtures.py"))
        fx = importlib.util.module_from_spec(spec)
        sys.modules[name] = fx
        spec.loader.exec_module(fx)
        fx.FIXTURE_DIR = self.path("fixtures")
        fx._PCA_TESTDATA_SFS = ()
        import data_engineering_spark.queries as queries

        queries._fixtures = fx
        self.record["import_s"] = time.perf_counter() - t0
        self.mark("import")

    # -- session -----------------------------------------------------------
    def conf(self) -> dict[str, str]:
        java = (f"-Djava.io.tmpdir={self.path('tmp')} "
                f"-Dderby.stream.error.file={self.path('derby.log')}")
        c = {
            "spark.driver.extraJavaOptions": java,
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.enabled": "false",
        }
        if self.trace:
            c.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return c

    def setup(self, register, gen_s: float) -> None:
        """Build the session and register the inputs. ``setup_s`` runs
        from process start to here, less ``gen_s``, the input
        generation done before it; the JVM launch is in it."""
        from data_engineering_spark.session import get_session

        t0 = time.perf_counter()
        self.spark = get_session(
            app_name=f"perfbench-{self.workload}", extra_conf=self.conf())
        register(self.spark)
        t1 = time.perf_counter()
        self.tracer.sc = self.spark.sparkContext
        self.record["session_build_s"] = t1 - t0
        self.record["setup_s"] = t1 - self.born - gen_s
        self.mark("setup")
        self.record["spark.sql.shuffle.partitions"] = int(
            self.spark.conf.get("spark.sql.shuffle.partitions"))

    def live_cache(self) -> tuple[int, int]:
        """(cached partitions, bytes in memory + on disk) over every
        persisted RDD, from the storage info the driver holds."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        blocks = sum(i.numCachedPartitions() for i in infos)
        size = sum(i.memSize() + i.diskSize() for i in infos)
        return blocks, size

    # -- checks and result -------------------------------------------------
    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks[name] = bool(ok)
        if not ok:
            self.details[name] = detail or "mismatch"

    def stop(self) -> None:
        """Stop the session, then the JVM it ran in, and wait for the
        JVM to exit (it exits when its stdin closes)."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    def save_record(self) -> None:
        name = f"{self.workload}-trace{int(self.trace)}.json"
        with open(os.path.join(self.records, name), "w") as f:
            json.dump(self.record, f, indent=1, default=str)

    def finish(self, metrics: dict, units: dict) -> dict:
        """The result line; also completes the record's check verdicts,
        steal and failed_ratio. ``correct`` is whether every output
        check matched; ``failed`` also counts operations that raised."""
        steal1 = cpu_ticks()
        d_total = steal1[1] - self.steal0[1]
        self.record["steal_pct"] = (
            100.0 * (steal1[0] - self.steal0[0]) / d_total if d_total else 0.0)
        failed = self.op_failures + sum(not ok for ok in self.checks.values())
        attempted = self.ops + len(self.checks)
        self.record["checks"] = self.checks
        if self.details:
            self.record["check_details"] = self.details
        self.record["failed_ratio"] = failed / attempted if attempted else 1.0
        return {
            "correct": all(self.checks.values()),
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                k: {"value": v, "unit": units[k]} for k, v in metrics.items()
            },
        }
