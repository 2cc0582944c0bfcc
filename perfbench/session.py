"""Process set-up shared by the benchmark's entry points: paths inside the
checkout, the local[4] Spark session, peak RSS, and a shutdown that waits for
every process the run started."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time
from typing import Dict, List, Optional

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
DATA_DIR = os.path.join(BENCH_DIR, "_data")  # generated inputs, cached per seed
WORK_ROOT = os.path.join(BENCH_DIR, "_work")  # per-run scratch, removed at exit
RESULTS_DIR = os.path.join(BENCH_DIR, "_results")  # spans of traced runs
CORES = 4


def prepare_env(work_dir: str) -> None:
    """Point every temp location at the run's own directory and put the repo
    on the driver's and the Python workers' import path. Must run before the
    engine package is imported (its stage dir is read at import time)."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the JVM spark-submit starts to build its command line would write an
    # hsperfdata file to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # without this, mapInArrow workers fail with ModuleNotFoundError on the
    # engine package whenever the cwd is not the repo root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [REPO_ROOT, os.environ.get("PYTHONPATH", "")] if p
    )
    os.environ["SPARK_GRAFT_STAGE_DIR"] = os.path.join(DATA_DIR, "stage")
    if REPO_ROOT not in sys.path:
        sys.path.insert(0, REPO_ROOT)


def build_session(work_dir: str, event_log_dir: Optional[str] = None):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work_dir, "tmp")
    b = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        # a fixed heap size (the default 1 GiB maximum from the start), and
        # no hsperfdata file, which the JVM would write to /tmp
        .config("spark.driver.extraJavaOptions", f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", os.path.join(work_dir, "local"))
        # its own warehouse per run: CheckpointedRun's saveAsTable staged_*
        # tables must never leak between runs
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _proc_stats() -> Dict[int, List[str]]:
    """pid → the fields of /proc/<pid>/stat after the command name (field 3,
    the state, first)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                out[int(d)] = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    return out


def descendants(pid: int) -> List[int]:
    ppid = {p: int(f[1]) for p, f in _proc_stats().items()}
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in ppid.items() if pp == p]
        out += kids
        frontier += kids
    return out


def _group_alive(pgid: int) -> bool:
    return any(int(f[2]) == pgid for f in _proc_stats().values())


def run_child(cmd: List[str], timeout: float) -> subprocess.CompletedProcess:
    """Run ``cmd`` in its own process group and return its exit code and
    stdout. On timeout the whole group (the child's JVM and Python workers
    included) is killed, and waited for, before TimeoutExpired is raised."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        while _group_alive(proc.pid):
            time.sleep(0.05)
        raise
    return subprocess.CompletedProcess(cmd, proc.returncode, out)


def cpu_seconds() -> float:
    """CPU time (user + system) used so far by this process and every
    process under it: the JVM, its Python workers, and reaped children."""
    stats = _proc_stats()
    pids = [os.getpid()] + descendants(os.getpid())
    # fields 14-17: utime, stime, cutime, cstime, in clock ticks
    ticks = sum(sum(int(x) for x in stats[p][11:15]) for p in pids if p in stats)
    return ticks / os.sysconf("SC_CLK_TCK")


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus its JVM child."""
    jvm_pid = spark.sparkContext._gateway.proc.pid
    return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm_pid)) / 1024.0


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark and wait until the JVM and every process it started (the
    Python worker daemon and its workers) have exited."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    started = descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc.stdin:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=timeout)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout
    alive = [p for p in started if os.path.exists(f"/proc/{p}")]
    while alive and time.monotonic() < deadline:
        time.sleep(0.05)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(os.path.exists(f"/proc/{p}") for p in alive):
        time.sleep(0.05)
