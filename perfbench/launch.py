"""Measured spark-submit launches.

The launch recipe (package zip, scrubbed environment, ``--py-files``
wiring) is ``tools/submitlib.py``'s, imported rather than copied. On top
of it each launch records what a spark-submit user pays: launch-to-exit
wall time, user+sys CPU seconds of the whole process tree, and the peak
summed RSS of that tree.

CPU comes from the ``RUSAGE_CHILDREN`` delta, which only counts
descendants that were waited for. The benchmark process therefore makes
itself a child subreaper: Python workers orphaned when the JVM exits are
re-parented to it, and :func:`run` kills and reaps them before it
returns, so their CPU is counted and no process outlives a launch.
"""

from __future__ import annotations

import ctypes
import os
import resource
import signal
import subprocess
import sys
import threading
import time
from dataclasses import dataclass

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from submitlib import SPARK_SUBMIT, build_zip, scrubbed_env  # noqa: E402

PR_SET_CHILD_SUBREAPER = 36
RSS_SAMPLE_S = 0.1
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


@dataclass
class Launch:
    wall_s: float
    cpu_s: float
    peak_rss_mb: float
    returncode: int
    stdout: str
    stderr_tail: str
    steal_frac: float  # share of the box's CPU time the hypervisor stole


def become_subreaper() -> None:
    """Re-parent orphaned descendants to this process (Linux)."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def submit_cmd(app: str, app_args: list[str], *, master: str, zip_path: str,
               conf: dict[str, str]) -> list[str]:
    """``spark-submit --master <m> [--conf k=v ...] --py-files <zip> <app> ...``,
    the same command ``submitlib.run_submit`` builds."""
    cmd = [SPARK_SUBMIT, "--master", master]
    for k, v in conf.items():
        cmd += ["--conf", f"{k}={v}"]
    return cmd + ["--py-files", zip_path, app, *app_args]


def launch_env() -> dict[str, str]:
    """``submitlib.scrubbed_env`` without the engine's ``SPARK_GRAFT_*``
    overrides, so every engine setting is the program's default."""
    return {k: v for k, v in scrubbed_env().items() if not k.startswith("SPARK_GRAFT_")}


def _children_of() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (not ``pid`` itself)."""
    kids = _children_of()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_rss_mb(pid: int) -> float:
    total = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * PAGE_MB


def cpu_jiffies() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (steal is field 7)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def reap_all(grace_s: float = 5.0) -> None:
    """Terminate, then kill, every remaining descendant and wait for all."""
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        live = descendants(me)
        if not live:
            break
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for p in live:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
        _reap_zombies()
    _reap_zombies()


def _reap_zombies() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def run(cmd: list[str], *, cwd: str, timeout_s: float, log_path: str) -> Launch:
    """Run ``cmd`` to completion and measure it; stderr goes to ``log_path``.

    A launch that exceeds ``timeout_s`` is killed and reported with
    return code -9."""
    me = os.getpid()
    peak = [0.0]
    stop = threading.Event()

    def sample() -> None:
        while not stop.is_set():
            peak[0] = max(peak[0], tree_rss_mb(me))
            stop.wait(RSS_SAMPLE_S)

    r0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    j0 = cpu_jiffies()
    with open(log_path, "w") as err:
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, cwd=cwd, env=launch_env(), stdout=subprocess.PIPE,
                                stderr=err, text=True)
        sampler = threading.Thread(target=sample, daemon=True)
        sampler.start()
        try:
            out, _ = proc.communicate(timeout=timeout_s)
            rc = proc.returncode
        except subprocess.TimeoutExpired:
            proc.kill()
            out, _ = proc.communicate()
            rc = -9
        wall = time.perf_counter() - t0
        stop.set()
        sampler.join()
        reap_all()
    r1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    dj = [b - a for a, b in zip(j0, cpu_jiffies())]
    cpu = (r1.ru_utime - r0.ru_utime) + (r1.ru_stime - r0.ru_stime)
    with open(log_path) as f:
        tail = f.read()[-4000:]
    return Launch(wall, cpu, peak[0], rc, out, tail, dj[7] / max(sum(dj), 1))
