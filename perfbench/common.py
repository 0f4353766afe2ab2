"""Shared plumbing: the Spark session, the work directory, file-tree
diffs, percentiles, peak RSS and the run's environment record."""

from __future__ import annotations

import gc
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

DRIVER_MEMORY = "8g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Context:
    """One benchmark process: arguments, work dir, Spark, tracer."""

    def __init__(self, workload: str, seed: int, trace: bool, work: str):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.work = work
        self.cores = cores()
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.log_dir = os.path.join(work, "eventlog")

    # -- operation accounting ---------------------------------------
    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)
        return ok

    # -- Spark --------------------------------------------------------
    def start_spark(self):
        from trino_iceberg_maintenance_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # a heap that never resizes (initial = maximum) with a fixed
            # 512 MB young generation: G1 then neither resizes eden nor
            # hands pages back to the OS after a collection, so the
            # resident set follows the work done, not when G1 happened
            # to shrink the heap, and peak RSS repeats from run to run
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xms{DRIVER_MEMORY} -Xmn512m -Dderby.system.home={tmp}",
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true" if self.trace else "false",
        }
        if self.trace:
            os.makedirs(self.log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.dir": "file://" + self.log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        # the launcher JVM that builds the driver's command line: keep
        # its perf data and temp files out of the system temp dir too
        os.environ["SPARK_LAUNCHER_OPTS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        from tracing import Tracer

        self.tracer = Tracer(self.spark.sparkContext, self.workload,
                             self.trace)
        return self.spark

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw else None
        return proc.pid if proc else None

    def stop_spark(self) -> None:
        """Stop Spark and wait until the driver JVM has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw else None
        try:
            self.spark.stop()
        finally:
            self.spark = None
            if gw is not None:
                try:
                    gw.shutdown()
                except Exception:
                    pass
            if proc is not None:
                try:
                    proc.stdin.close()
                except Exception:
                    pass
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    def quiesce(self) -> None:
        """Right before a timed window: collect garbage on both sides,
        so a collection started by one unit does not land in the next,
        then restart the peak-RSS counters at the current resident set.
        The JVM keeps the heap pages it has touched (its heap never
        shrinks), so the window's peak covers the pages the warm-up
        touched as well as any the window adds."""
        gc.collect()
        if self.spark is not None:
            self.spark.sparkContext._jvm.System.gc()
        reset_peak_rss(self)


# -- file trees -----------------------------------------------------------

def tree(root: str) -> dict[str, tuple[int, int, int]]:
    """path -> (size, mtime_ns, inode) of every regular file."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def tree_diff(before: dict, after: dict, meta_only: bool = False) -> dict:
    """Bytes written and files created / deleted between two trees. A
    file that grew in place (a journal append) counts only its new
    bytes. ``meta_only`` keeps table metadata (everything that is not a
    parquet data or delete file)."""
    def keep(p):
        return not (meta_only and p.endswith(".parquet") and "/data/" in p)

    written = created = 0
    for p, (size, mt, ino) in after.items():
        if not keep(p):
            continue
        old = before.get(p)
        if old is None:
            created += 1
            written += size
        elif old != (size, mt, ino):
            same_file_grew = old[2] == ino and size >= old[0]
            written += size - old[0] if same_file_grew else size
    deleted = sum(1 for p in before if p not in after and keep(p))
    return {"bytes_written": written, "files_created": created,
            "files_deleted": deleted}


def restore(pristine: str, live: str) -> None:
    """Put ``live`` back to ``pristine``: same bytes, same mtimes."""
    if os.path.exists(live):
        shutil.rmtree(live)
    shutil.copytree(pristine, live, copy_function=shutil.copy2)


# -- statistics -----------------------------------------------------------

def pct(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    v = sorted(values)
    if not v:
        return 0.0
    k = (len(v) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def gmean(values) -> float:
    v = [x for x in values if x > 0]
    return math.exp(sum(map(math.log, v)) / len(v)) if v else 0.0


def tail(values) -> tuple[float, float, int]:
    """(q, value, n): the highest percentile q with at least ten
    samples beyond it, its value, and the sample count; q is 0 when
    that percentile would not lie above the median."""
    n = len(values)
    q = math.floor(100.0 * (n - 10) / n) if n else 0
    if q <= 50:
        return 0.0, 0.0, n
    return float(q), pct(values, q), n


def growth(values) -> float:
    """p50 of the last quarter of a sequence ÷ p50 of the first."""
    k = max(1, len(values) // 4)
    first, last = median(values[:k]), median(values[-k:])
    return last / first if first else 0.0


def time_ms(fn):
    t = time.perf_counter()
    out = fn()
    return out, (time.perf_counter() - t) * 1000.0


# -- process --------------------------------------------------------------

def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _pids(ctx: Context) -> list[int]:
    pid = ctx.jvm_pid()
    return [os.getpid()] + ([pid] if pid else [])


def reset_peak_rss(ctx: Context) -> None:
    """Restart the peak-RSS counters of the driver JVM and this process
    (Linux ``clear_refs`` 5), so the peak covers only what follows."""
    for pid in _pids(ctx):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def peak_rss_mb(ctx: Context) -> float:
    return sum(_vm_hwm_kb(pid) for pid in _pids(ctx)) / 1024.0


def cpu_times() -> tuple[int, int]:
    """(all, steal) jiffies of the machine since boot, from /proc/stat.
    Steal is time the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f), f[7] if len(f) > 7 else 0


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the machine's CPU time stolen between two readings."""
    return (after[1] - before[1]) / max(1, after[0] - before[0])


def environment(ctx: Context, data_bytes: int) -> dict:
    import pyspark

    java = "unknown"
    if ctx.spark is not None:
        java = ctx.spark.sparkContext._jvm.System.getProperty("java.version")
    return {
        "nproc": ctx.cores,
        "spark": pyspark.__version__,
        "java": java,
        "python": sys.version.split()[0],
        "driver_memory": DRIVER_MEMORY,
        "input_mb": round(data_bytes / 1048576.0, 2),
        "input_share_of_heap": round(data_bytes / (8 * 1024 ** 3), 5),
        "flush_policy": "lake fsyncs every commit (journal, _table.json, "
                        "stats store); work dir on the checkout's disk",
        "work_dir_device": os.stat(ctx.work).st_dev,
    }


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}
