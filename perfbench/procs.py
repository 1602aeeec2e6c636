"""Process hygiene for the benchmark: a private work directory, the
environment every child runs in, and sessions that are killed as
a whole.

The server cannot be stopped with SIGTERM: its handler calls
`server.shutdown()` on the thread that runs `serve_forever`, which then
waits for itself. Killing only the Python process orphans its Spark JVM,
which keeps cores busy and skews the next run. So every child starts in a
session of its own, and `Group.kill` SIGKILLs every process of that
session and waits until none of them is left. A session, not a process
group: PySpark's worker daemon moves itself and its forked workers into a
process group of their own, but stays in the session. This process is
also made their subreaper, so the orphans of a killed server are
reparented here and reaped, rather than left as zombies.
"""

from __future__ import annotations

import ctypes
import os
import shutil
import signal
import socket
import subprocess
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
WORK_DIR = os.path.join(BENCH_DIR, ".work")
PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>


def child_env(scratch: str) -> dict[str, str]:
    """Environment for a child: the repository root on PYTHONPATH
    (executor-side Python workers import `uquery_rs_spark` and fail with
    ModuleNotFoundError without it), and every scratch directory Spark,
    the JVM or Python would otherwise put in /tmp or /dev/shm moved under
    `scratch`."""
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    path = env.get("PYTHONPATH")
    env["PYTHONPATH"] = REPO_ROOT + (os.pathsep + path if path else "")
    env["TMPDIR"] = tmp
    env["UQ_LOCAL_DIR"] = local
    env["SPARK_LOCAL_DIRS"] = local
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # The session default asks for a 32 GB heap; the benchmark host is
    # shared, and no workload needs more than a few GB.
    env["UQ_DRIVER_MEMORY"] = "4g"
    env["PYTHONUNBUFFERED"] = "1"
    return env


def become_subreaper() -> None:
    """Orphaned descendants are reparented to this process, so
    `Group.kill` can reap them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name: state, ppid,
    pgrp, session, ..."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(") ", 1)[1].split()
    except (OSError, IndexError):
        return None


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Group:
    """A child process started in a session of its own, with a scratch
    directory of its own that `kill` removes: a SIGKILLed Spark leaves its
    block-manager and temp directories behind."""

    def __init__(self, argv: list[str], tag: str):
        self.scratch = os.path.join(WORK_DIR, f"scratch-{tag}")
        shutil.rmtree(self.scratch, ignore_errors=True)
        os.makedirs(self.scratch)
        self.log_path = os.path.join(WORK_DIR, f"{tag}.log")
        self._log = open(self.log_path, "wb")
        self.started = time.perf_counter()
        self.proc = subprocess.Popen(
            argv,
            cwd=self.scratch,
            env=child_env(self.scratch),
            stdin=subprocess.DEVNULL,
            stdout=self._log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        self.pid = self.proc.pid

    def signal(self, signum: int) -> None:
        os.kill(self.pid, signum)

    def members(self) -> list[tuple[int, list[str]]]:
        """Every process of this child's session, with its stat fields."""
        found = []
        for p in os.listdir("/proc"):
            if p.isdigit():
                st = _stat(int(p))
                if st is not None and st[3] == str(self.pid):
                    found.append((int(p), st))
        return found

    def kill(self, timeout: float = 20.0) -> None:
        """SIGKILL every process of the session, reap the ones that are
        (or became) children of this process, and wait until none is left."""
        me = str(os.getpid())
        deadline = time.monotonic() + timeout
        while True:
            for pid, st in self.members():
                if st[0] != "Z":
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            if self.proc.poll() is None:
                try:
                    self.proc.wait(timeout=0.2)
                except subprocess.TimeoutExpired:
                    pass
            left = []
            for pid, st in self.members():
                if st[0] == "Z" and st[1] == me and pid != self.pid:
                    try:
                        os.waitpid(pid, os.WNOHANG)
                    except ChildProcessError:
                        pass
                left.append(pid)
            if not left and self.proc.poll() is not None:
                break
            if time.monotonic() > deadline:
                raise RuntimeError(f"session {self.pid} did not exit: {left}")
            time.sleep(0.05)
        self._log.close()
        shutil.rmtree(self.scratch, ignore_errors=True)

    def log_tail(self, n: int = 20) -> str:
        with open(self.log_path, errors="replace") as f:
            return "".join(f.readlines()[-n:])

