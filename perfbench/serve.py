"""Process handling: launch ``python -m roapi_spark``, learn its ports from
its start-up lines, and stop every process the benchmark started and wait
until each has ended."""

from __future__ import annotations

import ctypes
import os
import re
import signal
import subprocess
import sys
import threading
import time

_PORT_LINES = {
    "http": re.compile(r"listening on https?://[^:]+:(\d+)"),
    "pg": re.compile(r"postgres wire on [^:]+:(\d+)"),
    "flight": re.compile(r"arrow flight on grpc://[^:]+:(\d+)"),
}


PR_SET_PDEATHSIG = 1
PR_SET_CHILD_SUBREAPER = 36


def _prctl(option: int, arg: int) -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(option, arg, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl({option}): {os.strerror(err)}")


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants. A process
    whose parent ends first (the JVM under the server, the Python workers
    under a JVM) is then re-parented here rather than to init, so
    ``stop_all`` still finds it, and reaps it once it has ended instead of
    leaving a zombie to an init that may never reap it."""
    _prctl(PR_SET_CHILD_SUBREAPER, 1)


def _die_with_parent() -> None:
    # runs in the forked child before exec: should the benchmark be killed
    # outright, the server goes with it, and its JVM on the closed stdin
    _prctl(PR_SET_PDEATHSIG, signal.SIGKILL)


def _procs() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, state) of every visible process."""
    out: dict[int, tuple[int, str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        state, ppid = stat[stat.rindex(")") + 2 :].split()[:2]
        out[int(entry)] = (int(ppid), state)
    return out


def _descendants(procs: dict[int, tuple[int, str]]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(os.getpid(), ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def stop_all(grace_s: float = 20.0) -> None:
    """SIGTERM every process this one started, directly or not, SIGKILL
    what is left after ``grace_s``, and return only once each has ended and
    been reaped. The tree is scanned again on every pass, so a process
    forked or orphaned while it goes down is stopped as well."""
    me = os.getpid()
    left: list[int] = []
    for sig in (signal.SIGTERM, signal.SIGKILL):
        sent: set[int] = set()
        deadline = time.monotonic() + grace_s
        while time.monotonic() < deadline:
            procs = _procs()
            left = _descendants(procs)
            if not left:
                return
            for pid in left:
                ppid, state = procs[pid]
                if state == "Z":
                    if ppid == me:
                        try:
                            os.waitpid(pid, os.WNOHANG)
                        except ChildProcessError:
                            pass
                elif pid not in sent:
                    sent.add(pid)
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
            time.sleep(0.05)
    raise RuntimeError(f"processes {left} did not end")


class Server:
    """``python -m roapi_spark -c <config>`` with HTTP, Postgres-wire and
    FlightSQL listeners on ephemeral ports."""

    def __init__(self, config: str, root: str, workdir: str, env: dict[str, str]) -> None:
        self.t_launch = time.perf_counter()
        self.log = open(os.path.join(workdir, "server.log"), "w")
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "roapi_spark", "-c", config,
             "--pg-addr", "127.0.0.1:0", "--flight-addr", "127.0.0.1:0"],
            cwd=workdir,
            env=dict(env, PYTHONPATH=root),
            stdout=subprocess.PIPE,
            stderr=self.log,
            text=True,
            start_new_session=True,
            preexec_fn=_die_with_parent,
        )
        self.ports: dict[str, int] = {}
        self._ready = threading.Event()
        threading.Thread(target=self._read_stdout, daemon=True).start()

    def _read_stdout(self) -> None:
        for line in self.proc.stdout:
            self.log.write(line)
            for name, pat in _PORT_LINES.items():
                m = pat.search(line)
                if m:
                    self.ports[name] = int(m.group(1))
            if len(self.ports) == len(_PORT_LINES):
                self._ready.set()

    def wait_ports(self, timeout_s: float = 120.0) -> dict[str, int]:
        deadline = time.monotonic() + timeout_s
        while not self._ready.wait(0.05):
            if self.proc.poll() is not None or time.monotonic() > deadline:
                raise RuntimeError(
                    f"server did not start (exit code {self.proc.returncode}); see server.log"
                )
        return self.ports

    def stop(self) -> None:
        """Stop the whole tree (Python and its JVM) and wait for it."""
        stop_all()
        self.proc.wait()
        self.log.close()
