"""Launch environment, process-tree CPU accounting, host diagnostics and
shutdown of every process the benchmark started.

Everything here reads ``/proc``; nothing touches the package under test.
"""

from __future__ import annotations

import os
import shlex
import signal
import subprocess
import time

PACKAGE = "analyse_the_sky_with_apache_spark_spark"
_TICK = os.sysconf("SC_CLK_TCK")


def missing_sources(root: str) -> list[str]:
    """Files the benchmark imports from the checkout but does not own."""
    need = (f"{PACKAGE}/registry.py", f"{PACKAGE}/session.py", "tools/canon.py")
    return [p for p in need if not os.path.isfile(os.path.join(root, p))]


def core_count() -> int:
    """Cores this process may run on (``nproc`` without OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def launch_env(root: str, work: str, cores: int, event_log_dir: str | None) -> dict[str, str]:
    """Environment for the JVM and its Python workers.

    - the repo root goes on the workers' import path, so pickled package
      functions resolve from any working directory;
    - temp, Spark local and streaming scratch files stay under ``work``;
    - static confs (progress bar off, event log) go in through
      ``PYSPARK_SUBMIT_ARGS``, because ``get_spark()`` reuses whatever
      session the launch created.
    """
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    confs = {"spark.ui.showConsoleProgress": "false"}
    if event_log_dir is not None:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_log_dir}",
                # zstandard is not installed: the log must stay plain text
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    submit: list[str] = []
    for k, v in confs.items():
        submit += ["--conf", f"{k}={v}"]
    # PerfDisableSharedMem: no hsperfdata file, which a JVM puts in /tmp
    no_perf_file = "-XX:+PerfDisableSharedMem"
    submit += ["--driver-java-options", f"-Djava.io.tmpdir={tmp} {no_perf_file}", "pyspark-shell"]
    pythonpath = os.environ.get("PYTHONPATH")
    return {
        "PYTHONPATH": root if not pythonpath else root + os.pathsep + pythonpath,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": "2g",
        # the short-lived JVM spark-submit runs to build the command line
        "SPARK_LAUNCHER_OPTS": no_perf_file,
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit),
    }


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, state, utime+stime+cutime+cstime in ticks)."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # exited while listing
            continue
        rest = raw[raw.rindex(")") + 2 :].split()
        table[int(name)] = (int(rest[1]), rest[0], sum(int(x) for x in rest[11:15]))
    return table


def descendants(pid: int, table: dict[int, tuple[int, str, int]] | None = None) -> list[int]:
    table = _proc_table() if table is None else table
    children: dict[int, list[int]] = {}
    for p, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pid: int | None = None) -> float:
    """CPU seconds of ``pid`` and all its descendants: driver Python, the
    JVM, the Python worker daemon and workers. Reaped children count via
    their parent's cutime/cstime, so a worker that exits is not lost."""
    pid = os.getpid() if pid is None else pid
    table = _proc_table()
    ticks = sum(table[p][2] for p in [pid, *descendants(pid, table)] if p in table)
    return ticks / _TICK


def host_sample() -> dict[str, float]:
    """Raw counters for steal and CPU-pressure diagnostics."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    sample = {"t": time.monotonic(), "jiffies": float(sum(cpu[:8])), "steal": float(cpu[7])}
    try:
        with open("/proc/pressure/cpu") as f:
            some = f.readline().split()
        sample["psi_some_us"] = float(dict(kv.split("=") for kv in some[1:])["total"])
    except (OSError, KeyError, ValueError):
        pass  # kernel without PSI: the diagnostic is simply absent
    return sample


def host_diagnostics(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    """Host CPU steal share and CPU pressure ('some' stall share) between
    two samples. Diagnostics only: they flag noisy runs, they are not judged."""
    out = {"steal_frac": (b["steal"] - a["steal"]) / max(b["jiffies"] - a["jiffies"], 1.0)}
    if "psi_some_us" in a and "psi_some_us" in b:
        out["cpu_pressure_frac"] = (b["psi_some_us"] - a["psi_some_us"]) / 1e6 / max(b["t"] - a["t"], 1e-9)
    return out


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the JVM it launched, and wait until the JVM
    and every process under it (worker daemon, workers) has ended."""
    from pyspark import SparkContext

    spawned = descendants(os.getpid())
    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if _wait_gone(spawned, timeout):
        return
    for p in _alive(spawned):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    if not _wait_gone(spawned, 5.0):
        raise RuntimeError(f"processes {_alive(spawned)} survived SIGKILL")


def _alive(pids: list[int]) -> list[int]:
    table = _proc_table()
    return [p for p in pids if p in table and table[p][1] != "Z"]


def _wait_gone(pids: list[int], timeout: float) -> bool:
    deadline = time.monotonic() + timeout
    while _alive(pids):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.1)
    return True
