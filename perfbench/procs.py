"""Launch one workload process and measure its whole process tree.

Wall time runs from launch to exit. CPU time is the child's rusage, which
covers every descendant it reaped (JVM, Python driver, pyspark daemon and
its workers). Peak RSS and each process's own CPU come from polling
``/proc`` while the tree runs, by the same parent/child walk as
``bench._tree_jiffies``; Python workers live between polls, so their CPU
is the rusage total minus the polled CPU of the long-lived processes. Machine busy, steal and foreign cores come from
``bench._cpu_snapshot`` / ``bench._busy_steal_cores``; they explain spread
and never drop a run.
"""

from __future__ import annotations

import os
import subprocess
import time
from dataclasses import dataclass

import bench

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass
class Launch:
    cmd: list[str]
    returncode: int
    wall_s: float
    cpu_s: float
    peak_rss_mb: float
    cpu_by_kind_s: dict[str, float]
    busy_cores: float
    steal_cores: float
    foreign_cores: float
    timed_out: bool = False
    log: str = ""


def _tree(root: int) -> dict[int, tuple[str, int, int]]:
    """pid -> (kind, own cpu jiffies, rss pages) for the live tree under
    ``root``."""
    ppid_of, info = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:  # raced a process exit
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        rest = raw.rsplit(")", 1)[1].split()
        pid = int(name)
        ppid_of[pid] = int(rest[1])
        if comm == "java":
            kind = "jvm"
        elif b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
            kind = "python_worker"
        elif comm.startswith("python"):
            kind = "python_driver"
        else:
            kind = "other"
        info[pid] = (kind, int(rest[11]) + int(rest[12]), int(rest[21]))
    kids: dict[int, list[int]] = {}
    for pid, ppid in ppid_of.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = {}, [root]
    while stack:
        pid = stack.pop()
        if pid in info:
            out[pid] = info[pid]
        stack.extend(kids.get(pid, ()))
    return out


def _group_members(pgid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                out.append(int(name))
    return out


def _stop_group(pgid: int, wait_s: float = 30.0) -> None:
    """Kill what is left of the launch's process group (a JVM a Python
    driver started can outlive it) and wait until every member is gone."""
    deadline = time.monotonic() + wait_s
    while _group_members(pgid) and time.monotonic() < deadline:
        try:
            os.killpg(pgid, 9)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def run(
    cmd: list[str],
    env: dict[str, str],
    cwd: str,
    log_path: str,
    timeout_s: float,
    poll_s: float = 0.2,
) -> Launch:
    """Run ``cmd`` to completion (or ``timeout_s``), polling its tree."""
    cpu0 = bench._cpu_snapshot()
    last: dict[int, tuple[str, int]] = {}
    peak = 0
    with open(log_path, "w") as log:
        t0 = time.perf_counter()
        proc = subprocess.Popen(
            cmd, env=env, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        timed_out = False
        try:
            while True:
                pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
                if pid:
                    break
                tree = _tree(proc.pid)
                peak = max(peak, sum(rss for _, _, rss in tree.values()))
                for p, (kind, jiffies, _) in tree.items():
                    last[p] = (kind, jiffies)
                if time.perf_counter() - t0 > timeout_s:
                    timed_out = True
                    os.killpg(proc.pid, 9)
                    pid, status, usage = os.wait4(proc.pid, 0)
                    break
                time.sleep(poll_s)
            wall = time.perf_counter() - t0
            proc.returncode = os.waitstatus_to_exitcode(status)
        finally:
            _stop_group(proc.pid)
            if proc.returncode is None:  # interrupted: reap the killed child
                proc.wait()
    busy, steal, foreign = bench._busy_steal_cores(cpu0, bench._cpu_snapshot())
    by_kind: dict[str, float] = {}
    for kind, jiffies in last.values():
        by_kind[kind] = by_kind.get(kind, 0.0) + jiffies / _TICK
    with open(log_path, errors="replace") as f:
        text = f.read()
    return Launch(
        cmd=cmd,
        returncode=proc.returncode,
        wall_s=wall,
        cpu_s=usage.ru_utime + usage.ru_stime,
        peak_rss_mb=peak * _PAGE / 2**20,
        cpu_by_kind_s=by_kind,
        busy_cores=busy,
        steal_cores=steal,
        foreign_cores=foreign,
        timed_out=timed_out,
        log=text,
    )

