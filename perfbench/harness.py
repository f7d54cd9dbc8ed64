"""Process-level plumbing shared by the workloads: the environment Spark is
started in, the temp root, memory measurement, shutdown, and the per-run
tally of operations, checks and metrics."""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# what the benchmark drives; a checkout without them cannot be measured
REQUIRED = ("melt_spark/__init__.py", "bench.py", "tools/check_oracle.py")
TMP_PARENT = ".perfbench_tmp"
OUT_DIR = ".perfbench_out"


def missing_inputs(root: Path = ROOT) -> list[str]:
    return [p for p in REQUIRED if not (root / p).is_file()]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def make_tmp_root(root: Path = ROOT) -> str:
    parent = root / TMP_PARENT
    parent.mkdir(exist_ok=True)
    return tempfile.mkdtemp(prefix="run-", dir=parent)


def remove_tmp_root(tmp: str, root: Path = ROOT) -> None:
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        (root / TMP_PARENT).rmdir()  # only when no other run is using it
    except OSError:
        pass


def prepare_env(tmp: str) -> None:
    """Everything Spark, the JVM and the Python workers write goes under
    the temp root, and the workers can import melt_spark."""
    scratch = os.path.join(tmp, "os-tmp")
    os.makedirs(scratch, exist_ok=True)
    os.environ["TMPDIR"] = scratch
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={scratch}")
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "")
                           .split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    # the program's own session defaults (driver heap, shuffle partitions)
    # on local[<cores>], whatever the caller's environment says
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_DRIVER_MEM",
                "SPARK_GRAFT_SHUFFLE"):
        os.environ.pop(var, None)
    tempfile.tempdir = scratch


def spark_conf(tmp: str) -> dict[str, str]:
    return {
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # keep every job of a run in the status store for attribution
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }


# ---------------------------------------------------------------------------
# processes and memory

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids, out = _children(), []
    todo = [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process and every live
    descendant: this Python process, the JVM and the Python workers. Peaks
    count from the last reset_peak_rss."""
    pids = [os.getpid()] + descendants()
    return sum(_vm_hwm_kb(p) for p in pids) / 1024.0


def reset_peak_rss(spark) -> bool:
    """Collect the JVM heap, then restart the peak-RSS counter (VmHWM) of
    this process and every live descendant at its current RSS, so that the
    peak read later covers the measured work and not the warm-up. False if
    a live process's counter could not be reset."""
    spark._jvm.System.gc()
    ok = True
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except (FileNotFoundError, ProcessLookupError):
            pass                      # it exited meanwhile
        except OSError:
            ok = False
    return ok


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop Spark, then the JVM, then wait for every process they started."""
    from pyspark import SparkContext

    pids = descendants()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        deadline = time.monotonic() + 15
        while any(_alive(p) for p in pids) and time.monotonic() < deadline:
            time.sleep(0.1)
        for p in pids:
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass


# ---------------------------------------------------------------------------
# the run's tally

@dataclass
class Tally:
    """Operations attempted and failed, metric samples, and the facts the
    report prints (generated sizes, rows loaded, live rows)."""
    attempted: int = 0
    failed: int = 0
    checks_failed: list[str] = field(default_factory=list)
    samples: dict[str, list[float]] = field(default_factory=dict)
    info: dict = field(default_factory=dict)

    def op(self, name: str, ok: bool, detail: str = "") -> bool:
        """Count one operation; ``ok`` False (a failed correctness check)
        counts it as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.checks_failed.append(f"{name}: {detail}")
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)
        return ok

    def error(self, name: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failed += 1
        self.checks_failed.append(f"{name}: {type(exc).__name__}: {exc}")
        traceback.print_exception(exc, file=sys.stderr)

    def add(self, metric: str, value: float) -> None:
        self.samples.setdefault(metric, []).append(value)


def force(df, *exprs) -> dict:
    """Execute ``df`` fully into the noop sink; returns observed aggregates
    (always including ``rows``) counted while the data flows, no extra
    pass."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    (df.observe(obs, F.count(F.lit(1)).alias("rows"), *exprs)
     .write.format("noop").mode("overwrite").save())
    return obs.get
