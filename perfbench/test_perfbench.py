"""Self-tests of the benchmark harness (no Spark needed):

    python3 -m pytest perfbench -q
"""
from __future__ import annotations

import itertools
import os
import signal
import subprocess
import sys
import time

import pytest

from perfbench import datagen, loadgen, server, verify, workloads
from perfbench.model import Replica


@pytest.fixture(scope="module")
def gen(tmp_path_factory):
    data = str(tmp_path_factory.mktemp("data"))
    datagen.generate(data, seed=7)
    return workloads.QueryGen(Replica(data))


def _keys(workload: str, seed: int, gen, n: int = 40) -> list[list[str]]:
    return [[item.key() for item in itertools.islice(s, n)]
            for s in workloads.streams(workload, seed, gen, 8)]


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_same_seed_same_stream_other_seed_other_stream(gen, workload):
    assert _keys(workload, 3, gen) == _keys(workload, 3, gen)
    assert _keys(workload, 3, gen) != _keys(workload, 4, gen)


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_server_side_classes_match_the_client(gen, workload):
    """The traced server classifies requests from method, path and body;
    it must agree with the class the generator assigned."""
    for stream in workloads.streams(workload, 5, gen, 8):
        for item in itertools.islice(stream, 60):
            if isinstance(item, workloads.Req):
                assert workloads.classify(item.method, item.path.split("?")[0],
                                          item.body) == item.cls


@pytest.mark.parametrize("workload", ["backoffice_mixed", "wizard_browse"])
def test_query_forms_do_not_depend_on_the_seed(gen, workload):
    """Two seeds send the same sequence of query forms with other keys,
    so runs with different seeds do comparable work."""
    def forms(seed):
        stream = workloads.streams(workload, seed, gen, 8)[0]
        return [[(ax["h"], ax["level"]) for ax in item.check["spec"]["rows"]]
                + item.check["spec"]["measures"]
                for item in itertools.islice(stream, 130)
                if item.check.get("kind") == "query"]
    assert len(forms(3)) >= 10
    assert forms(3) == forms(4)


def test_datagen_is_deterministic(tmp_path):
    for d in ("a", "b"):
        datagen.generate(str(tmp_path / d), seed=11)
    for t in ("customer", "orders", "lineitem"):
        a = (tmp_path / "a" / f"{t}.parquet").read_bytes()
        assert a == (tmp_path / "b" / f"{t}.parquet").read_bytes()


def test_percentile_needs_ten_samples_beyond():
    assert loadgen.percentile(list(range(19)), 0.5) is None
    assert loadgen.percentile(list(range(20)), 0.5) == 9
    assert loadgen.percentile(list(range(99)), 0.9) is None
    assert loadgen.percentile(list(range(100)), 0.9) == 89
    assert loadgen.percentile([], 0.5) is None


def _query_body(gen, spec):
    cols, rows = gen.rep.query_rows(spec)
    return {"rows": [dict(zip(cols, r)) for r in rows],
            "columns": [{"field": c} for c in cols], "rowCount": len(rows)}


def test_verifier_flags_a_perturbed_query_value(gen):
    import random
    spec = gen.spec(random.Random(5), "plain2", 1, random.Random(6))
    check = {"kind": "query", "spec": spec, "preview": False}
    body = _query_body(gen, spec)
    assert verify.check_one(body, check, gen.rep, "") == ""
    col = body["columns"][-1]["field"]
    body["rows"][0][col] = body["rows"][0][col] * 1.001 + 1
    assert "!=" in verify.check_one(body, check, gen.rep, "")


def test_verifier_flags_a_short_member_page(gen):
    check = {"kind": "member_page", "h": "cust", "level": "Customer",
             "limit": 50, "offset": 100}
    page = gen.rep.member_page("cust", "Customer", 50, 100)
    body = {"members": [{"MIEMBRO_UNIQUE_NAME": u} for u in page],
            "total": gen.rep.level_size("cust", "Customer")}
    assert verify.check_one(body, check, gen.rep, "") == ""
    body["members"].pop()
    assert "page of 49" in verify.check_one(body, check, gen.rep, "")


def test_generator_never_exceeds_cpu_count(gen):
    cap = loadgen.max_connections()
    assert cap == len(os.sched_getaffinity(0))
    for w in workloads.WORKLOADS:
        assert len(workloads.streams(w, 1, gen, cap)) <= cap
    assert len(workloads.streams("wizard_browse", 1, gen, 1)) == 1
    with pytest.raises(ValueError):
        loadgen.run_closed_loop(0, [iter(())] * (cap + 1), 0.1)


CHILD = """
import subprocess, sys, time
child = subprocess.Popen([sys.executable, "-c",
    "import os, time; os.setpgid(0, 0); b = bytearray(200 * 2**20); "
    "time.sleep(60)"])
time.sleep(60)
"""


def test_peak_rss_counts_child_processes():
    """The server's JVM is a child process, and PySpark's worker daemon
    moves itself into a process group of its own; the sampler must sum
    both, and the CPU reader must find them."""
    proc = subprocess.Popen([sys.executable, "-c", CHILD],
                            start_new_session=True)
    try:
        sampler = server.RssSampler(proc.pid).start()
        deadline = time.time() + 20
        while sampler.peak < 200 * 2**20 and time.time() < deadline:
            time.sleep(0.1)
        sampler.stop()
        assert sampler.max_procs >= 2
        assert sampler.peak >= 200 * 2**20
        assert server.rss_bytes(proc.pid) < 200 * 2**20
        assert server.session_cpu_s(proc.pid) > 0
    finally:
        for pid in server.session_pids(proc.pid):
            os.kill(pid, signal.SIGKILL)
        proc.wait()
        while server.session_pids(proc.pid):
            time.sleep(0.05)
