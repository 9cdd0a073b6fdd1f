"""Closed-loop HTTP/1.1 load generator: one keep-alive connection per
client thread, each sending its next request only after the previous
reply arrived.  Records one ``Sample`` per HTTP call."""
from __future__ import annotations

import http.client
import json
import math
import os
import threading
import time
from dataclasses import dataclass

from .model import CATALOG
from .workloads import POLL_INTERVAL_S, JobTask

REQUEST_TIMEOUT_S = 60.0
JOB_TIMEOUT_S = 90.0


def max_connections() -> int:
    """The generator never opens more connections than CPUs it may use."""
    return len(os.sched_getaffinity(0))


def percentile(values: list[float], q: float) -> float | None:
    """Nearest-rank percentile, or None when fewer than 10 samples lie
    beyond it (too few to tell the percentile from noise)."""
    n = len(values)
    rank = max(1, math.ceil(q * n))
    if n == 0 or n - rank < 10:
        return None
    return sorted(values)[rank - 1]


@dataclass
class Sample:
    cls: str
    key: str
    t0: float
    t1: float
    status: int             # 0 = no reply (timeout / connection error)
    body: bytes
    check: dict
    error: str = ""
    wrong: str = ""          # filled by the verifier

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0

    @property
    def failed(self) -> bool:
        return not (200 <= self.status < 300) or bool(self.wrong)


@dataclass
class JobSample:
    """Submit-to-terminal turnaround of one async job."""
    t0: float
    t1: float
    spec: dict

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


class Client:
    def __init__(self, port: int):
        self.port = port
        self.conn: http.client.HTTPConnection | None = None

    def call(self, cls: str, method: str, path: str, body, check: dict,
             key: str) -> Sample:
        data = None if body is None else json.dumps(body).encode()
        headers = {"Content-Type": "application/json"} if data else {}
        t0 = time.perf_counter()
        try:
            if self.conn is None:
                self.conn = http.client.HTTPConnection(
                    "127.0.0.1", self.port, timeout=REQUEST_TIMEOUT_S)
            self.conn.request(method, path, body=data, headers=headers)
            resp = self.conn.getresponse()
            payload = resp.read()
            return Sample(cls, key, t0, time.perf_counter(), resp.status,
                          payload, check)
        except (OSError, http.client.HTTPException) as exc:
            self.close()
            return Sample(cls, key, t0, time.perf_counter(), 0, b"", check,
                          error=f"{type(exc).__name__}: {exc}")

    def close(self) -> None:
        if self.conn is not None:
            self.conn.close()
            self.conn = None


def run_job(client: Client, task: JobTask, out: list, jobs: list) -> None:
    """Submit the job, send ``task.meanwhile``, then poll the job every
    ``POLL_INTERVAL_S`` after its submission until it ends.  The client
    keeps working while the job runs, so its pace follows the server,
    not the poll timer."""
    s = client.call("job_submit", "POST", "/api/jobs",
                    {"catalog_code": CATALOG, "mdx_query": task.mdx},
                    {"kind": "job_submit"}, task.key())
    out.append(s)
    for req in task.meanwhile:
        out.append(client.call(req.cls, req.method, req.path, req.body,
                               req.check, req.key()))
    if s.status != 201:
        return
    job_id = json.loads(s.body)["id"]
    deadline = s.t0 + JOB_TIMEOUT_S
    due = s.t0 + POLL_INTERVAL_S
    while time.perf_counter() < deadline:
        time.sleep(max(0.0, due - time.perf_counter()))
        due = max(due, time.perf_counter()) + POLL_INTERVAL_S
        p = client.call("job_poll", "GET", f"/api/jobs/{job_id}", None,
                        {"kind": "job_poll", "spec": task.spec}, task.key())
        out.append(p)
        if p.status != 200:
            return
        if json.loads(p.body).get("status") in ("COMPLETED", "FAILED"):
            jobs.append(JobSample(s.t0, p.t1, task.spec))
            return
    out.append(Sample("job_poll", task.key(), deadline, time.perf_counter(),
                      0, b"", {"kind": "job_poll"}, error="job timeout"))


def _drive(client: Client, item, out: list, jobs: list) -> None:
    if isinstance(item, JobTask):
        run_job(client, item, out, jobs)
    else:
        out.append(client.call(item.cls, item.method, item.path, item.body,
                               item.check, item.key()))


@dataclass
class Phase:
    """Outcome of a closed-loop phase (times from ``perf_counter``)."""
    conns: list             # the samples of each connection, in order
    jobs: list
    start: float
    deadline: float
    end: float

    @property
    def samples(self) -> list:
        return [s for conn in self.conns for s in conn]

    def requests_per_s(self) -> tuple[float, int]:
        """The sum over connections of the requests each completed inside
        the window, per second up to the last of them.  Rating each
        connection up to its own last reply keeps a stream of long
        requests from counting as slower when the window happens to
        end mid-request.  Job polls are left out (the poll interval sets
        their number; job turnaround covers them).  Returns the rate
        and the number of requests counted."""
        rate, n = 0.0, 0
        for conn in self.conns:
            done = [s.t1 for s in conn if s.cls != "job_poll"
                    and not s.failed and s.t1 <= self.deadline]
            if done:
                rate += len(done) / (max(done) - self.start)
                n += len(done)
        return rate, n


def run_items(port: int, items: list) -> tuple[list[Sample], list[JobSample]]:
    """Send ``items`` one after another on a single connection."""
    client, out, jobs = Client(port), [], []
    for item in items:
        _drive(client, item, out, jobs)
    client.close()
    return out, jobs


def run_closed_loop(port: int, streams: list, seconds: float) -> Phase:
    """One thread and keep-alive connection per stream; each starts new
    items until ``seconds`` have passed, then finishes its in-flight
    item."""
    if len(streams) > max_connections():
        raise ValueError(f"{len(streams)} connections exceed the "
                         f"{max_connections()} CPUs available")
    results = [([], []) for _ in streams]
    errors: list[Exception] = []
    start = time.perf_counter()
    deadline = start + seconds

    def worker(i: int) -> None:
        client = Client(port)
        try:
            for item in streams[i]:
                if time.perf_counter() >= deadline:
                    break
                _drive(client, item, *results[i])
        except Exception as exc:    # a generator bug must not shrink load
            errors.append(exc)
        finally:
            client.close()

    threads = [threading.Thread(target=worker, args=(i,), daemon=True)
               for i in range(len(streams))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise RuntimeError("load generator thread failed") from errors[0]
    conns = [out for out, _ in results]
    jobs = [j for _, js in results for j in js]
    end = max([s.t1 for out in conns for s in out] + [deadline])
    return Phase(conns, jobs, start, deadline, end)
