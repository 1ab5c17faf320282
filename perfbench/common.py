"""Box pinning, Spark session lifecycle and small shared helpers.

Every run starts its own Spark driver on ``local[nproc]`` with Spark's
scratch space, the JVM temp dir and Python's temp dir all inside one
per-run directory under the checkout, and stops the JVM (and with it
every Python worker it forked) before the process exits.
"""

from __future__ import annotations

import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

PACKAGE = "delta_lake_pyspark_scd2_spark"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """Driver heap well below physical RAM: a quarter of it, 1-4 GB."""
    return f"{max(1, min(4, int(ram_gb() // 4)))}g"


def box_info() -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "ram_gb": round(ram_gb(), 1),
        "driver_memory": driver_memory(),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }


def import_program(root: str):
    """Import the package from the checkout root only; an installed copy
    elsewhere would benchmark the wrong code."""
    sys.path.insert(0, root)
    import importlib

    pkg = importlib.import_module(PACKAGE)
    where = os.path.realpath(os.path.dirname(pkg.__file__))
    if not where.startswith(os.path.realpath(root) + os.sep):
        raise ImportError(f"{PACKAGE} resolved to {where}, outside {root}")
    return pkg


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


@dataclass
class Session:
    """A pinned local Spark driver plus the per-run scratch directory."""

    root: str
    run_dir: str = ""
    spark: object = None
    jvm: subprocess.Popen | None = None
    start_s: float = 0.0

    def open(self, app: str) -> None:
        self.run_dir = os.path.join(
            self.root, ".perfbench_run", f"{os.getpid()}-{time.time_ns()}"
        )
        tmp = os.path.join(self.run_dir, "tmp")
        local = os.path.join(self.run_dir, "spark-local")
        os.makedirs(tmp)
        os.makedirs(local)
        n = nproc()
        # read by the package at import/session time: pin cores and heap
        os.environ["SPARK_GRAFT_CPUS"] = str(n)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_memory()
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        import tempfile

        tempfile.tempdir = tmp
        from delta_lake_pyspark_scd2_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app,
            master=f"local[{n}]",
            shuffle_partitions=n,
            extra_conf={
                "spark.local.dir": local,
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{driver_memory()}",
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # keep every job and stage of a run in the status store
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0
        self.jvm = self.spark.sparkContext._gateway.proc

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def peak_rss_mb(self) -> float:
        """Driver JVM plus this Python process, high-water marks."""
        jvm, py = vm_hwm_mb(self.jvm.pid), vm_hwm_mb("self")
        print(f"# peak rss: jvm {jvm:.0f} MB, python {py:.0f} MB", file=sys.stderr)
        return jvm + py

    def close(self) -> None:
        if self.spark is not None:
            try:
                self.spark.stop()
            finally:
                self.spark = None
        if self.jvm is not None:
            # the gateway JVM exits when its stdin closes
            try:
                self.jvm.stdin.close()
                self.jvm.wait(timeout=60)
            except (OSError, subprocess.TimeoutExpired):
                self.jvm.kill()
                self.jvm.wait(timeout=30)
            self.jvm = None
        if self.run_dir:
            shutil.rmtree(self.run_dir, ignore_errors=True)
            try:  # the parent goes once no run uses it
                os.rmdir(os.path.dirname(self.run_dir))
            except OSError:
                pass


@dataclass
class Checks:
    """Correctness checks of one run; each mismatch is one failure."""

    failures: list[str] = field(default_factory=list)
    attempted: int = 0

    def check(self, name: str, ok: bool, detail: object = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(f"{name}: {detail}")
            print(f"# CHECK FAILED {name}: {detail}", file=sys.stderr)
        return ok


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def geomean(xs: list[float]) -> float:
    return statistics.geometric_mean(xs) if xs else 0.0


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )
