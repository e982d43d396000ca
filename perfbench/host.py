"""Host sizing, the per-run directory, process accounting and cleanup.

Everything the benchmark writes lives under one run root inside the
checkout (``.perfbench/run-*``): landing files, checkpoints, the
prediction store, the model registry, the memo store, Spark's scratch
and event logs. The root is removed at the end with retries.
"""

from __future__ import annotations

import os
import shutil
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
DATA_DIR = os.path.join(BENCH_DIR, "data", "sf0.01")
RUNS_DIR = os.path.join(REPO_ROOT, ".perfbench")


def physical_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_mb(total_mb: int | None = None) -> int:
    """A quarter of physical RAM, between 1 and 2 GiB: the workloads
    hold megabytes, and the host's memory is shared."""
    total = physical_mem_mb() if total_mb is None else total_mb
    return max(1024, min(2048, total // 4))


def make_run_root() -> str:
    root = os.path.join(RUNS_DIR, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(root)
    return root


def configure_env(run_root: str) -> dict[str, str]:
    """Point every engine knob the benchmark depends on at this run and
    this host. Must run before the first Spark session is built: the
    JVM and its Python workers inherit this environment."""
    tmp = os.path.join(run_root, "tmp")
    local = os.path.join(run_root, "spark-local")
    memo = os.path.join(run_root, "sigcache")
    for d in (tmp, local, memo):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_SIGCACHE": memo,
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mem_mb()}m",
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "PYTHONPATH": REPO_ROOT,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    os.environ.pop("SPARK_GRAFT_STATE_STORE", None)
    return env


def spark_conf(run_root: str, event_log_dir: str | None = None) -> dict[str, str]:
    """extra_conf for get_spark: scratch, warehouse and JVM temp files
    under the run root; the event log only for the traced run."""
    tmp = os.path.join(run_root, "tmp")
    conf = {
        "spark.local.dir": os.path.join(run_root, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_root, "warehouse"),
        # a fixed-size heap: no run-to-run drift from adaptive resizing
        "spark.driver.extraJavaOptions": (
            f"-Xms{driver_mem_mb()}m -XX:-UsePerfData -Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={os.path.join(run_root, 'derby')}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def rmtree_retry(path: str, attempts: int = 10) -> None:
    """Remove a tree that a stopping streaming query may still be
    writing to (state-store maintenance can create files after
    ``query.stop()`` returns, so one rmtree can die on 'Directory not
    empty')."""
    for _ in range(attempts):
        if not os.path.exists(path):
            return
        shutil.rmtree(path, ignore_errors=True)
        if not os.path.exists(path):
            return
        time.sleep(0.5)
    shutil.rmtree(path)


def _parents() -> dict[int, int]:
    """pid -> ppid for every process visible in /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int | None = None) -> list[int]:
    root = os.getpid() if pid is None else pid
    parent = _parents()
    found, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        found += kids
        frontier += kids
    return found


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


class RssSampler:
    """Peak resident memory of this process tree (driver Python, the
    JVM and its Python workers): the sum of each process's own peak
    (VmHWM), sampled from /proc on every call. A java process whose
    parent is java is skipped: it is a child the JVM forked to run a
    shell command, which reports the JVM's whole footprint until it
    execs."""

    def __init__(self):
        self.peak_kb: dict[int, int] = {}

    def sample(self) -> None:
        parent = _parents()
        for pid in [os.getpid(), *descendants()]:
            if _comm(pid) == "java" and _comm(parent.get(pid, 0)) == "java":
                continue
            kb = _status_kb(pid, "VmHWM")
            if kb > self.peak_kb.get(pid, 0):
                self.peak_kb[pid] = kb

    def peak_mb(self) -> float:
        self.sample()
        return sum(self.peak_kb.values()) / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_ended(pids: list[int], timeout: float = 30.0) -> None:
    """Wait for every pid to end; kill what outlives the wait."""
    deadline = time.time() + timeout
    while any(_alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.2)
    for pid in pids:
        if _alive(pid):
            try:
                os.kill(pid, 9)
            except OSError:
                pass
    while any(_alive(p) for p in pids) and time.time() < deadline + 10:
        time.sleep(0.2)


def stop_spark(spark) -> None:
    """Stop the session, shut the py4j gateway down and wait until the
    JVM and every Python worker it forked have ended. The tree is
    snapshotted first: workers outliving the JVM are re-parented away
    from this process."""
    from pyspark import SparkContext

    tree = descendants()
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    wait_ended(tree + descendants())
