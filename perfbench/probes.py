"""Outside views of a running process tree: CPU and memory from /proc,
Spark job and stage metrics from the driver's monitoring REST API."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import time
import urllib.request

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """utime + stime of the tree, in seconds."""
    total = 0
    for pid in descendants(root):
        fields = _stat(pid)
        if fields is not None:
            total += int(fields[11]) + int(fields[12])
    return total / _TICK


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave other guests while this machine's
    CPUs had work (``steal`` in /proc/stat), summed over all CPUs.  A
    run with much steal was slowed by neighbours, not by the program."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def tree_peak_rss_mb(root: int) -> dict[str, list[float]]:
    """Each live process's peak resident set (VmHWM) in MB, grouped by
    command name."""
    out: dict[str, list[float]] = {}
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f)
        except OSError:
            continue
        if "VmHWM" in status:
            out.setdefault(status["Name"].strip(), []).append(
                int(status["VmHWM"].split()[0]) / 1024)
    return out


def become_subreaper() -> None:
    """Orphaned descendants (a JVM whose Python parent exited first)
    are re-parented to this process, so :func:`stop_tree` can reap
    them instead of leaving them to init."""
    import ctypes
    PR_SET_CHILD_SUBREAPER = 36
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_spark(spark) -> None:
    """Stop a Spark session and wait for its gateway JVM to exit (it
    exits by itself once its stdin closes)."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def stop_tree(pids: list[int], timeout_s: float = 20.0) -> None:
    """SIGKILL whatever of ``pids`` is still alive and wait until every
    one of them is gone.  ``pids`` lists parents before children, so a
    child orphaned by its parent's death is re-parented to this process
    (see :func:`become_subreaper`) before its turn comes."""
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout_s
    me = os.getpid()
    for pid in pids:
        while time.monotonic() < deadline:
            fields = _stat(pid)
            if fields is None:
                break
            if int(fields[1]) == me:
                try:
                    os.waitpid(pid, 0)
                except ChildProcessError:  # reaped by its Popen already
                    pass
                break
            if fields[0] == "Z":  # its own live parent reaps it
                break
            time.sleep(0.02)


class SparkRest:
    """Completed jobs and stages of one Spark application."""

    def __init__(self, ui_url: str) -> None:
        self.base = ui_url.rstrip("/") + "/api/v1/applications"
        self.app = self._get("")[0]["id"]

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def max_job_id(self) -> int:
        return max((j["jobId"] for j in self._get(f"/{self.app}/jobs")),
                   default=-1)

    def totals_since(self, job_id: int) -> dict[str, float]:
        """Sums over jobs with id > ``job_id`` and their stages."""
        jobs = [j for j in self._get(f"/{self.app}/jobs")
                if j["jobId"] > job_id and j.get("completionTime")]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get(f"/{self.app}/stages")
                  if s["stageId"] in stage_ids and s["status"] == "COMPLETE"]
        wall_ms = sum(_ms(j["completionTime"]) - _ms(j["submissionTime"])
                      for j in jobs)
        run_ms = sum(s["executorRunTime"] for s in stages)
        return {
            "jobs": len(jobs),
            "tasks": sum(s["numCompleteTasks"] for s in stages),
            "executor_run_ms": run_ms,
            "executor_cpu_ms": sum(s["executorCpuTime"] for s in stages) / 1e6,
            "gc_ms": sum(s["jvmGcTime"] for s in stages),
            "input_bytes": sum(s["inputBytes"] for s in stages),
            "input_records": sum(s["inputRecords"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "job_wall_ms": wall_ms,
        }


def _ms(stamp: str) -> float:
    """Spark REST timestamps: 2024-01-01T00:00:00.123GMT."""
    from datetime import datetime, timezone
    dt = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp() * 1000
