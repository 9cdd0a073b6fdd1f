"""Service-level benchmark of the OLAP HTTP API.

    python3 perfbench/run.py --workload wizard_browse --seed 1 --seconds 20 \
        --trace 0

Run from the repository root.  Generates the star schema once per
checkout (a fixed seed), draws the request streams from ``--seed``,
starts the unmodified server (``--trace 1``: the traced bootstrap) in a
fresh run directory under ``.perfbench/``, runs a sequential warm-up
pass (which ends ``setup_s``), lets the workload's closed loop settle
for ``SETTLE_S`` untimed seconds (on ``backoffice_mixed`` the back-office
client exports the metadata workbook meanwhile), drives the closed
loop for ``--seconds``, stops the server, checks every distinct
response against DuckDB, prints each metric with its unit and sample
count, and ends with one JSON line.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from collections import Counter

ROOT = os.getcwd()
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import datagen, layers, loadgen, verify, workloads  # noqa: E402
from perfbench.model import Replica  # noqa: E402
from perfbench.server import Server, session_cpu_s  # noqa: E402

WARMUP_SEED = -1         # warm-up and settle never share the timed seed
SETTLE_S = 10.0          # untimed closed loop between warm-up and window
END_TO_END = [("setup_s", "s"), ("cpu_ms_per_request", "ms"),
              ("peak_rss_mb", "MB")]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def report(name: str, value, unit: str, n: int | None = None) -> None:
    count = "" if n is None else f"  (n={n})"
    if value is None:
        print(f"{name}: not reported, fewer than 10 samples beyond it{count}")
    else:
        print(f"{name}: {value:.4f} {unit}{count}")


def latency_report(samples, classes, name: str, qs=(0.5, 0.9)) -> None:
    ms = [s.ms for s in samples if s.cls in classes and not s.failed]
    for q in qs:
        report(f"{name}_p{int(q * 100)}_ms", loadgen.percentile(ms, q), "ms",
               len(ms))


def cpu_ticks() -> tuple[int, int]:
    """(stolen, all) CPU ticks of this machine since boot.  Stolen ticks
    are time the hypervisor gave to other guests: a run that lost many
    is slow for reasons outside the program."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)      # unwinds through server.stop()


def report_end_to_end(workload: str, phase, warm_samples, settle_samples,
                      setup_s: float, cpu_s: float,
                      server: Server) -> dict[str, float]:
    """Print every end-to-end figure; return the gated ones.  ``cpu_s``:
    CPU seconds the server's processes used during the timed phase."""
    samples = phase.samples
    failed = [s for s in samples if s.failed]
    untimed = warm_samples + settle_samples
    for s in ([s for s in untimed if s.failed] + failed)[:10]:
        print(f"FAILED {s.cls} status={s.status} {s.error or s.wrong}"[:300])
    report("setup_s", setup_s, "s")
    for s in warm_samples:
        if s.cls != "job_poll":
            print(f"warmup {s.cls}: {s.ms:.0f} ms")
    rps, n_rps = phase.requests_per_s()
    report("requests_per_s", rps, "1/s", n_rps)
    # the phase ends when the last request in flight is answered, so its
    # CPU time covers every request it sent
    served = sum(1 for s in samples if s.cls != "job_poll" and not s.failed)
    cpu_ms = cpu_s * 1000 / max(1, served)
    report("cpu_ms_per_request", cpu_ms, "ms", served)
    report("failed_ratio", len(failed) / max(1, len(samples)), "ratio",
           len(samples))
    by_cls = Counter(s.cls for s in samples)
    bad_cls = Counter(s.cls for s in failed)
    for cls in sorted(by_cls):
        report(f"failed_ratio.{cls}", bad_cls[cls] / by_cls[cls], "ratio",
               by_cls[cls])
    peak_rss_mb = server.rss.peak / 2 ** 20
    report("peak_rss_mb", peak_rss_mb, "MB")
    print(f"peak_rss_processes: {server.rss.max_procs}, per process MB: "
          + ", ".join(f"{b / 2**20:.0f}" for b in server.rss.per_pid.values()))
    if workload == "wizard_browse":
        latency_report(samples, workloads.BROWSE_CLASSES, "browse")
        latency_report(samples, ("preview",), "query", qs=(0.5,))
    else:
        latency_report(samples, ("query_mdx", "query_execute"), "query")
    if workload == "backoffice_mixed":
        turn = [j.ms for j in phase.jobs]
        report("job_turnaround_p50_ms", loadgen.percentile(turn, 0.5), "ms",
               len(turn))
        latency_report(samples, ("dmv",), "dmv", qs=(0.5,))
        # the export runs once per run, in the settle phase
        latency_report(settle_samples, ("export",), "export", qs=(0.5,))
        for s in settle_samples:
            if s.cls == "export" and not s.failed:
                print(f"export_ms: {s.ms:.2f} ms (n=1)")
    for cls in sorted(by_cls):
        ms = [s.ms for s in samples if s.cls == cls and not s.failed]
        if ms:
            print(f"median_ms.{cls}: {statistics.median(ms):.2f} ms "
                  f"(n={len(ms)})")
    return {"setup_s": setup_s, "cpu_ms_per_request": cpu_ms,
            "peak_rss_mb": peak_rss_mb}


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    if not os.path.isfile(os.path.join(ROOT, "olap_xtrctr_spark",
                                       "__main__.py")):
        print("run from the repository root: olap_xtrctr_spark/ not found",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench", "runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}-"
                           f"{os.getpid()}")
    data_dir = datagen.cached(os.path.join(ROOT, ".perfbench", "data"))
    replica = Replica(data_dir)
    gen = workloads.QueryGen(replica)
    warm_seed = WARMUP_SEED if args.seed != WARMUP_SEED else WARMUP_SEED - 1
    warm = workloads.warmup_items(args.workload, warm_seed, gen)
    settle_streams = workloads.streams(args.workload, warm_seed, gen,
                                       loadgen.max_connections(), "settle")
    streams = workloads.streams(args.workload, args.seed, gen,
                                loadgen.max_connections())

    server = Server(ROOT, run_dir, data_dir, traced=bool(args.trace))
    try:
        server.wait_ready()
        warm_samples, _ = loadgen.run_items(server.port, warm)
        setup_s = time.perf_counter() - server.t_spawn
        settle = loadgen.run_closed_loop(server.port, settle_streams,
                                         SETTLE_S)
        w0, ticks0 = time.time(), cpu_ticks()
        cpu0 = session_cpu_s(server.proc.pid)
        phase = loadgen.run_closed_loop(server.port, streams, args.seconds)
        cpu_s = session_cpu_s(server.proc.pid) - cpu0
        w1, ticks1 = time.time(), cpu_ticks()
    finally:
        server.stop()
    stolen, ticks = (b - a for a, b in zip(ticks0, ticks1))
    samples = phase.samples
    all_samples = warm_samples + settle.samples + samples
    verify.verify(all_samples, replica,
                  os.path.join(run_dir, "exports"))

    print(f"workload {args.workload} seed {args.seed}: {len(streams)} "
          f"connections, {len(samples)} requests in "
          f"{phase.end - phase.start:.1f} s, warm-up {len(warm_samples)} "
          f"requests, settle {len(settle.samples)} requests in "
          f"{settle.end - settle.start:.1f} s")
    values = report_end_to_end(args.workload, phase, warm_samples,
                               settle.samples, setup_s, cpu_s, server)
    report("host_steal_share", stolen / max(1, ticks), "ratio")
    names = END_TO_END
    if args.trace:
        with open(os.path.join(run_dir, "spans.json")) as f:
            trace = json.load(f)
        query_ms = [s.ms for s in samples
                    if s.cls in workloads.QUERY_CLASSES and not s.failed]
        values = layers.layer_metrics(trace, w0, w1, query_ms)
        names = layers.metric_names()
        for name, unit in names:
            report(name, values[name], unit)
    with open(os.path.join(run_dir, "samples.json"), "w") as f:
        json.dump([[s.cls, s.t0 - phase.start, s.t1 - phase.start, s.status,
                    s.error or s.wrong] for s in samples], f)
    for sub in ("spark-local", "tmp"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
    print(json.dumps({
        "correct": not any(s.wrong for s in all_samples),
        "attempted": len(all_samples),
        "failed": sum(1 for s in all_samples if s.failed),
        "metrics": {name: {"value": values[name], "unit": unit}
                    for name, unit in names}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
