"""Run plumbing shared by the workloads: a per-run work directory inside
the checkout, the Spark session and its shutdown, the box-speed probe,
closed-loop operation accounting, the window length and the statistics."""
from __future__ import annotations

import math
import os
import shutil
import statistics
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

# printed in place of a non-finite percentile (a failed operation enters
# the latency lists as +inf: it misses every latency limit)
FAILED_LATENCY = 1e9


def cores() -> int:
    return len(os.sched_getaffinity(0))


def make_workdir(workload: str, seed: int) -> str:
    """Fresh scratch dir for this run, and every temp file pointed at it:
    Python's tempfile (ship_package's zip), Spark's local dirs and the
    tmpdir of both JVMs (spark-submit's launcher and the driver), so a run
    reads and writes only inside the checkout."""
    d = os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    tmp = os.path.join(d, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return d


def start_spark(workdir: str):
    from moc_indexer_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores()}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until it exits."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def box_probe(spark) -> float:
    """Fixed-work warm-up, timed: the same small aggregate every run, so a
    slow or busy box shows in the artifact next to the metrics."""
    t0 = time.perf_counter()
    spark.range(0, 1_000_000, numPartitions=cores()).selectExpr(
        "sum(hash(id) % 1000) AS s"
    ).collect()
    return time.perf_counter() - t0


def cleanup(workdir: str) -> None:
    shutil.rmtree(workdir, ignore_errors=True)
    try:
        os.rmdir(WORK_ROOT)  # only when no other run is using it
    except OSError:
        pass


def finite(v: float) -> float:
    return v if math.isfinite(v) else FAILED_LATENCY


class Ops:
    """Closed-loop operation accounting: every operation runs through
    `run`, which times it and records a failure instead of raising."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, kind: str, fn, *args, **kwargs):
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        except Exception as e:  # noqa: BLE001
            self.failed += 1
            self.errors.append(f"{kind}: {str(e).splitlines()[0][:200]}")
            return None, time.perf_counter() - t0, False
        return out, time.perf_counter() - t0, True


def window_rounds(seconds: float, round_s: float) -> int:
    """How many closed-loop rounds a measured window runs: as many as fit
    in `seconds` at `round_s`, the workload's nominal round time on a
    4-core box (at least 2). The window is a fixed amount of work, not a
    time limit: every run does the same rounds, so a median always sits
    at the same place among them, however fast the box is that minute
    (the JVM is still warming up during the window, and a time limit
    gives a slow box fewer, colder rounds)."""
    return max(2, round(seconds / round_s))


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else math.inf


def mean_of_medians(groups) -> float:
    """Each operation type's median latency, averaged over the types: the
    read_p50_s statistic. Unlike one median over the pooled samples, it
    does not depend on where the types' latency clusters sit against one
    another, so a small shift of one type does not move the figure by the
    gap between two clusters."""
    groups = list(groups)
    return sum(median(g) for g in groups) / len(groups)
