"""Start the unmodified OLAP server in an isolated run directory, sample
the RSS of its whole process tree, and stop every process it started."""
from __future__ import annotations

import http.client
import os
import shlex
import signal
import socket
import subprocess
import sys
import threading
import time

READY_TIMEOUT_S = 150.0
STOP_GRACE_S = 20.0         # SIGTERM to SIGKILL; the traced server writes
                            # its spans in between
RSS_INTERVAL_S = 0.1
DRIVER_MEM = "2g"


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _stats():
    """(pid, fields after the command name) of every live process."""
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            yield int(name), fields


def session_pids(sid: int) -> list[int]:
    """Live processes of one session: the server, its JVM, and the
    PySpark worker daemon with its workers (which the daemon moves into
    a process group of their own)."""
    return [pid for pid, fields in _stats() if int(fields[3]) == sid]


def session_cpu_s(sid: int) -> float:
    """User plus system CPU seconds of the live processes of one
    session.  Time the hypervisor gave to other guests is not charged
    to a process."""
    ticks = sum(int(fields[11]) + int(fields[12])
                for _, fields in _stats() if int(fields[3]) == sid)
    return ticks / os.sysconf("SC_CLK_TCK")



def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the summed RSS of every process in a session.

    A process counts from its second sample on: a child caught between
    fork and exec briefly reports its parent's whole RSS as its own."""

    def __init__(self, sid: int):
        self.sid = sid
        self.peak = 0
        self.max_procs = 0
        self.per_pid: dict[int, int] = {}   # peak of each counted process
        self._seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        pids = set(session_pids(self.sid))
        rss = {p: rss_bytes(p) for p in pids & self._seen}
        self._seen = pids
        self.max_procs = max(self.max_procs, len(rss))
        self.peak = max(self.peak, sum(rss.values()))
        for p, b in rss.items():
            self.per_pid[p] = max(self.per_pid.get(p, 0), b)

    def _loop(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


class Server:
    """``python -m olap_xtrctr_spark --sf-dir DATA serve`` (or the traced
    bootstrap) in ``run_dir``: its own cwd, warehouse, export and temp
    directories, a free loopback port, all CPUs."""

    def __init__(self, root: str, run_dir: str, data_dir: str,
                 traced: bool = False):
        self.port = free_port()
        self.run_dir = run_dir
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ)
        env.update({
            "PYTHONPATH": root,
            "PYTHONUNBUFFERED": "1",
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            # a fixed maximum heap, not the host-RAM-derived default; the
            # JVM grows its heap as the program needs it
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
            "OLAP_EXPORT_DIR": os.path.join(run_dir, "exports"),
            "TMPDIR": tmp,
            # defaultJavaOptions go before the server's own
            # spark.driver.extraJavaOptions instead of replacing them
            "PYSPARK_SUBMIT_ARGS": (
                "--conf spark.ui.showConsoleProgress=false --conf "
                + shlex.quote("spark.driver.defaultJavaOptions="
                              f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
                + " pyspark-shell"),
        })
        env.pop("SPARK_GRAFT_SF_DIR", None)
        entry = ([os.path.join(os.path.dirname(__file__), "traced_server.py")]
                 if traced else ["-m", "olap_xtrctr_spark"])
        cmd = [sys.executable, *entry, "--sf-dir", data_dir, "serve",
               "--port", str(self.port)]
        self.log = open(os.path.join(run_dir, "server.log"), "wb")
        self.t_spawn = time.perf_counter()
        self.proc = subprocess.Popen(cmd, cwd=run_dir, env=env,
                                     stdout=self.log, stderr=subprocess.STDOUT,
                                     stdin=subprocess.DEVNULL,
                                     start_new_session=True)
        self.rss = RssSampler(self.proc.pid).start()

    def wait_ready(self) -> None:
        deadline = time.perf_counter() + READY_TIMEOUT_S
        while time.perf_counter() < deadline:
            if self.proc.poll() is not None:
                raise RuntimeError(f"server exited with {self.proc.returncode}"
                                   f"; see {self.run_dir}/server.log")
            try:
                c = http.client.HTTPConnection("127.0.0.1", self.port,
                                               timeout=2)
                c.request("GET", "/")
                ok = c.getresponse().status == 200
                c.close()
                if ok:
                    return
            except OSError:
                pass
            time.sleep(0.1)
        raise RuntimeError("server not ready in time")

    def stop(self) -> None:
        """SIGTERM the server (the traced bootstrap writes its spans on
        it), then end every process of its session and wait until they
        are gone."""
        sid = self.proc.pid
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(timeout=STOP_GRACE_S)
            except subprocess.TimeoutExpired:
                pass
        self.rss.stop()
        for sig in (signal.SIGTERM, signal.SIGKILL):
            deadline = time.perf_counter() + 10
            while session_pids(sid) and time.perf_counter() < deadline:
                for pid in session_pids(sid):
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
                time.sleep(0.2)
        self.proc.wait()
        self.log.close()
