"""Run context of one benchmark process: resources pinned from the
machine, every write placed under one run directory, the Spark session
and the processes behind it, timed operations and their output checks.

Import this module only after ``run.py`` has put the checkout root on
``sys.path``; it imports the engine."""

from __future__ import annotations

import glob
import os
import shutil
import signal
import time
from collections import defaultdict

from pyspark.sql import DataFrame, functions as F

from stats import median
from tracing import Tracer

# Heap: a quarter of physical memory, at most 3 GiB. The machine's
# memory is shared, and the engine's own default (16g, with -Xms equal
# to it) cannot start on a 15 GB host without swap.
HEAP_SHARE = 4
HEAP_CAP_MB = 3072
# Spark runs on half the CPUs. The other half absorbs the JVM's GC and
# JIT threads, the Python driver and other tenants of a shared machine:
# two busy neighbour threads on a 4-CPU host slowed local[4] calls by
# 60% and local[2] calls by under 5% (NOTES.md).
CORE_SHARE = 2


def mem_total_mb(meminfo: str = "/proc/meminfo") -> int:
    with open(meminfo) as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pinned_resources() -> tuple[int, int, int]:
    """(heap MB, Spark cores, CPUs) for this machine. CPUs are the ones
    this process may run on (what ``nproc`` reports without an OMP
    override); Spark gets half of them (see ``CORE_SHARE``); the heap
    follows the rule above."""
    cpus = len(os.sched_getaffinity(0))
    heap = min(mem_total_mb() // HEAP_SHARE, HEAP_CAP_MB)
    return heap, max(1, cpus // CORE_SHARE), cpus


def _children(pid: int) -> list[int]:
    out = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as f:
                out += [int(p) for p in f.read().split()]
        except OSError:
            pass
    return out


def descendants(pid: int) -> list[int]:
    seen, todo = [], [pid]
    while todo:
        for c in _children(todo.pop()):
            seen.append(c)
            todo.append(c)
    return seen


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(") ")[-1][:1] not in ("Z", "X")
    except OSError:
        return False


def host_counters() -> dict[str, float]:
    """Cumulative machine-wide counters, in seconds: CPU time busy,
    waiting on I/O and stolen (``/proc/stat``), and the time some task
    stalled on I/O or CPU (``/proc/pressure``, where the kernel has it).
    Deltas around a timed call show whether a slow call computed more or
    waited more."""
    out = {}
    hz = os.sysconf("SC_CLK_TCK")
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    out["busy_s"] = (v[0] + v[1] + v[2] + v[5] + v[6]) / hz
    out["iowait_s"] = v[4] / hz
    out["steal_s"] = (v[7] if len(v) > 7 else 0) / hz
    for res in ("io", "cpu"):
        try:
            with open(f"/proc/pressure/{res}") as f:
                some = f.readline().split()
            out[f"{res}_stall_s"] = int(some[-1].split("=")[1]) / 1e6
        except (OSError, IndexError, ValueError):
            pass
    return out


class OutputMismatch(Exception):
    pass


class Bench:
    """One benchmark process. Owns the run directory (inputs, Spark local
    dirs, temp files, pipeline roots, artifacts, checkpoints, event log)
    and removes it in ``close``; only results and JVM crash logs are
    kept, under ``perfbench/results``."""

    def __init__(self, bench_dir: str, workload: str, seed: int, seconds: int,
                 trace: bool):
        self.t_process = time.perf_counter()
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.results_dir = os.path.join(bench_dir, "results")
        self.run_dir = os.path.join(bench_dir, "_work", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        self.local_dir = self._mkdir("spark-local")
        self.tmp_dir = self._mkdir("tmp")
        self.heap_mb, self.cores, self.cpus = pinned_resources()
        self.spark = None
        self._proc = None
        self._seq = 0
        self.times: dict[str, list[float]] = defaultdict(list)
        self.outputs: dict[str, tuple] = {}
        self.host: dict[str, list[dict]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.tracer = Tracer(on_enter=self._enter, on_exit=self._exit)

    def _mkdir(self, *parts: str) -> str:
        path = os.path.join(self.run_dir, *parts)
        os.makedirs(path, exist_ok=True)
        return path

    def fresh_dir(self, kind: str) -> str:
        """A new, empty directory (pipeline root, artifacts, checkpoint)."""
        self._seq += 1
        return self._mkdir("fresh", f"{kind}-{self._seq}")

    # --- session -----------------------------------------------------------
    def start_spark(self):
        """Pin heap, cores and every scratch location, then start the
        session. The JVM inherits the run directory as its working
        directory, so crash logs, warehouse and metastore files land
        there instead of the checkout root."""
        os.environ["SPARK_DRIVER_MEM"] = f"{self.heap_mb}m"
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["SPARK_LOCAL_DIRS"] = self.local_dir
        os.environ["TMPDIR"] = self.tmp_dir
        # the JVM's temp files (native libraries it unpacks) go there too,
        # and no perf-data file goes to /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
            os.environ.get("JAVA_TOOL_OPTIONS"),
            f"-Djava.io.tmpdir={self.tmp_dir}", "-XX:-UsePerfData")))
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR
        os.chdir(self.run_dir)
        from pdxbldgimport_spark.session import get_spark
        from pdxbldgimport_spark.shipping import ship

        conf = {
            "spark.local.dir": self.local_dir,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self._mkdir("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        with self.tracer.span("session", "start"):
            self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                                   cores=self.cores, extra_conf=conf)
            self._proc = self.spark.sparkContext._gateway.proc
            ship(self.spark)
        return self.spark

    def jvm_pid(self) -> int | None:
        if self._proc is None:
            return None
        pid = self._proc.pid
        if _comm(pid) == "java":
            return pid
        for c in descendants(pid):
            if _comm(c) == "java":
                return c
        return None

    def _drivers(self) -> list[int]:
        pid = self.jvm_pid()
        return [os.getpid()] + ([pid] if pid is not None else [])

    def reset_peak_rss(self) -> None:
        """Restart the kernel's high-water marks (``VmHWM``) of the driver
        JVM and this Python driver at their current resident size, so the
        peak read later covers only what ran in between."""
        for pid in self._drivers():
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the driver JVM plus this Python driver
        since ``reset_peak_rss`` (kernel high-water marks, not samples)."""
        return sum(_status_kb(pid, "VmHWM") for pid in self._drivers()) / 1024.0

    # --- tracing hooks ------------------------------------------------------
    def _enter(self, span):
        if self.trace and self.spark is not None and span.layer not in ("session",):
            self.spark.sparkContext.setJobGroup(f"pb-{span.sid}", f"{span.layer}:{span.name}")

    def _exit(self, span, parent):
        if self.trace and self.spark is not None and span.layer not in ("session",):
            if parent is not None and parent.layer != "session":
                self.spark.sparkContext.setJobGroup(f"pb-{parent.sid}",
                                                    f"{parent.layer}:{parent.name}")
            else:
                self.spark.sparkContext.setJobGroup("pb-none", "untracked")

    def job_counts(self, sid: int) -> tuple[int, int, int]:
        """(jobs, stages that ran, tasks) of one span's job group, exact,
        from Spark's status tracker."""
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(f"pb-{sid}")
        stages, tasks = 0, 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                si = st.getStageInfo(s)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        return len(jobs), stages, tasks

    # --- timed operations ----------------------------------------------------
    def timed(self, layer: str, name: str, fn):
        """Run ``fn`` as one timed operation. Its return value is the
        output to check: equal on every repetition of ``name``. A raise
        or a mismatch counts as a failed operation."""
        self.attempted += 1
        try:
            h0 = host_counters()
            with self.tracer.span(layer, name) as span:
                out = fn()
            h1 = host_counters()
            self.times[name].append(span.dur)
            self.host[name].append({k: round(h1[k] - h0[k], 3) for k in h1})
            first = self.outputs.setdefault(name, out)
            if out != first:
                raise OutputMismatch(f"{name}: output {out} != first {first}")
            return out, span
        except Exception as e:  # noqa: BLE001 — a failed op is a measured outcome
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:500]}")
            return None, None

    def check(self, ok: bool, what: str) -> None:
        """An untimed correctness check; a failure fails the run."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"check failed: {what}")

    def med(self, name: str) -> float:
        return median(self.times[name])

    def best(self, name: str) -> float:
        return min(self.times[name])

    # --- teardown -------------------------------------------------------------
    def close(self) -> None:
        """Stop the session, then the JVM and every process under it, and
        wait for each; keep crash logs, remove the run directory."""
        os.chdir(os.path.dirname(os.path.dirname(self.run_dir)))
        t0 = time.perf_counter()
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception as e:  # noqa: BLE001 — teardown must continue
                self.errors.append(f"stop: {e!r}")
        self.close_s = {"stop": time.perf_counter() - t0}
        proc = self._proc
        if proc is not None:
            tree = descendants(proc.pid)
            try:
                if proc.stdin:
                    proc.stdin.close()  # the gateway exits on stdin EOF
                proc.wait(timeout=20)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait(timeout=10)
            deadline = time.time() + 10
            while any(_alive(p) for p in tree) and time.time() < deadline:
                time.sleep(0.1)
            for p in tree:
                if _alive(p):
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
        self.close_s["processes"] = time.perf_counter() - t0
        from pdxbldgimport_spark import shipping

        zip_path = shipping._ZIP_PATH
        if zip_path and os.path.exists(zip_path):
            os.remove(zip_path)
        crash = glob.glob(os.path.join(self.run_dir, "hs_err_pid*.log"))
        if crash:
            os.makedirs(self.results_dir, exist_ok=True)
            for c in crash:
                shutil.move(c, os.path.join(self.results_dir, os.path.basename(c)))
        shutil.rmtree(self.run_dir, ignore_errors=True)
        self.close_s["removed"] = time.perf_counter() - t0
        parent = os.path.dirname(self.run_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def df_checksum(df: DataFrame) -> tuple[int, int]:
    """Execute ``df`` in full and return its row count and a checksum:
    the sum of per-row 64-bit hashes folded mod 2^31-1, so it is
    independent of row order and cannot overflow. Maps are hashed
    through their JSON text (Spark refuses to hash map values)."""
    cols = [F.to_json(F.col(f"`{f.name}`")) if "map<" in f.dataType.simpleString()
            else F.col(f"`{f.name}`") for f in df.schema.fields]
    h = F.pmod(F.xxhash64(*cols), F.lit(2_147_483_647))
    r = df.agg(F.count(F.lit(1)).alias("n"), F.coalesce(F.sum(h), F.lit(0)).alias("h")).first()
    return int(r["n"]), int(r["h"])
