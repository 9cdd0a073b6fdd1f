"""Per-layer metrics from the traced server's ``spans.json``.

A span's self time is its duration minus the time its child spans
cover.  Per-request figures use the requests that started inside the
timed window, and the settle phase's workbook export; the members-cache
figures cover the server's whole life, because the cache is built during
warm-up.
"""
from __future__ import annotations

import statistics
from collections import defaultdict

from .workloads import BROWSE_CLASSES, QUERY_CLASSES

CLASSES = QUERY_CLASSES + BROWSE_CLASSES + ("job_submit", "job_poll", "dmv",
                                             "export")
SERVICE_METHODS = ("get_catalogs", "get_measures", "get_dimensions",
                   "get_apartados", "get_variables", "get_members",
                   "search_members", "_members", "execute_query",
                   "execute_mdx", "execute_dmv", "export_metadata_workbook",
                   "submit_job", "get_job")
JOB_POOL_WORKERS = 4        # JobRegistry's default pool size


def metric_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in report order."""
    names = [("http_api.dispatch_self_ms", "ms")]
    names += [(f"http_api.response_bytes.{c}", "bytes") for c in CLASSES]
    names += [(f"service.self_ms.{m}", "ms") for m in SERVICE_METHODS]
    names += [("mdx.parse_ms", "ms"), ("query.plan_ms", "ms"),
              ("query.guard_jobs", "count")]
    for c in CLASSES:
        names += [(f"spark.action_ms.{c}", "ms"),
                  (f"spark.jobs_per_request.{c}", "count"),
                  (f"spark.stages_per_request.{c}", "count"),
                  (f"spark.tasks_per_request.{c}", "count")]
    names += [("members.build_ms", "ms"),
              ("metadata.members_cache_ms", "ms"),
              ("metadata.members_cache_builds", "count"),
              ("metadata.members_cache_hit_ratio", "ratio"),
              ("metadata.dmv_register_ms", "ms"),
              ("metadata.dmv_register_jobs", "count"),
              ("sinks.sanitize_ms", "ms"), ("sinks.to_json_ms", "ms"),
              ("sinks.workbook_ms", "ms"), ("sinks.bytes_written", "bytes"),
              ("jobs.queue_wait_ms", "ms"), ("jobs.run_ms", "ms"),
              ("jobs.pool_busy_ratio", "ratio"),
              ("session.get_spark_ms", "ms"),
              ("trace.query_p50_ms", "ms"),
              ("trace.query_span_coverage", "ratio")]
    return names


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(trace: dict, w0: float, w1: float,
                  client_query_ms: list[float]) -> dict[str, float]:
    """``w0``/``w1``: the timed window in wall-clock seconds;
    ``client_query_ms``: client-side latencies of the timed query
    requests (for the traced p50 and span coverage)."""
    spans = trace["spans"]
    child_ms: dict[int, float] = defaultdict(float)
    for rid, sid, parent, layer, name, t0, t1 in spans:
        child_ms[parent] += (t1 - t0) * 1000
    reqs = {rid: r for rid, r in trace["requests"].items()
            if r["t1"] is not None
            and (w0 <= r["t0"] < w1 or r["cls"] == "export")}
    groups = trace["groups"]

    by_name: dict[str, list] = defaultdict(list)   # name -> [(rid, dur, self)]
    spark_ms: dict[str, float] = defaultdict(float)
    http_self: dict[str, float] = defaultdict(float)
    root_ms: dict[str, float] = {}
    for rid, sid, parent, layer, name, t0, t1 in spans:
        if rid not in reqs:
            continue
        dur = (t1 - t0) * 1000
        own = dur - child_ms[sid]
        by_name[name].append((rid, dur, own))
        if layer == "spark":
            spark_ms[rid] += own
        elif layer == "http_api":
            http_self[rid] += own
            if name == "http_api.handle":
                root_ms[rid] = dur

    def group_sum(rid: str, idx: int, suffix: str | None = None) -> int:
        rec = reqs[rid]
        return sum(max(groups.get(g, [0, 0, 0])[idx], 0)
                   for g in rec["groups"]
                   if suffix is None or g.endswith("|" + suffix))

    out: dict[str, float] = {}
    http_rids = [r for r in reqs if r.startswith("r")]
    out["http_api.dispatch_self_ms"] = _mean(http_self[r] for r in http_rids)
    by_cls = defaultdict(list)
    for rid in http_rids:
        by_cls[reqs[rid]["cls"]].append(rid)
    for c in CLASSES:
        rids = by_cls.get(c, [])
        out[f"http_api.response_bytes.{c}"] = _mean(reqs[r]["bytes"]
                                                    for r in rids)
        out[f"spark.action_ms.{c}"] = _mean(spark_ms[r] for r in rids)
        for idx, what in enumerate(("jobs", "stages", "tasks")):
            out[f"spark.{what}_per_request.{c}"] = _mean(
                group_sum(r, idx) for r in rids)
    for m in SERVICE_METHODS:
        out[f"service.self_ms.{m}"] = _mean(
            own for _, _, own in by_name[f"service.{m}"])
    out["mdx.parse_ms"] = _mean(d for _, d, _ in by_name["mdx.parse_mdx"])

    # execute is lazy except for the cardinality guard's count jobs, so
    # planning = execute minus the Spark actions it runs
    info = {sid: (parent, layer, name) for rid, sid, parent, layer, name,
            _, _ in spans if rid in reqs}
    guard_ms: dict[int, float] = defaultdict(float)
    for rid, sid, parent, layer, name, t0, t1 in spans:
        if rid not in reqs or layer != "spark" or \
                info.get(parent, (0, "", ""))[1] == "spark":
            continue
        p = parent
        while p and info.get(p, (0, "", ""))[2] != "query.execute":
            p = info.get(p, (0, "", ""))[0]
        if p:
            guard_ms[p] += (t1 - t0) * 1000
    execs = [(rid, sid, (t1 - t0) * 1000) for rid, sid, _, _, name, t0, t1
             in spans if rid in reqs and name == "query.execute"]
    out["query.plan_ms"] = _mean(d - guard_ms[sid] for _, sid, d in execs)
    out["query.guard_jobs"] = (
        sum(group_sum(r, 0, "execute") for r in {rid for rid, _, _ in execs})
        / len(execs) if execs else 0.0)

    out["members.build_ms"] = _mean(
        d for name, calls in by_name.items() if name.startswith("members.")
        for _, d, _ in calls)
    cache = trace["cache_calls"]
    out["metadata.members_cache_ms"] = sum((t1 - t0) * 1000
                                           for t0, t1, _ in cache)
    out["metadata.members_cache_builds"] = sum(1 for *_, hit in cache
                                               if not hit)
    out["metadata.members_cache_hit_ratio"] = (
        sum(1 for *_, hit in cache if hit) / len(cache) if cache else 0.0)
    regs = by_name["metadata.register_dmv_views"]
    out["metadata.dmv_register_ms"] = _mean(d for _, d, _ in regs)
    reg_rids = {rid for rid, _, _ in regs}
    out["metadata.dmv_register_jobs"] = (
        sum(group_sum(r, 0, "dmv_register") for r in reg_rids) / len(regs)
        if regs else 0.0)
    out["sinks.sanitize_ms"] = _mean(d for _, d, _ in by_name["sinks.sanitize"])
    out["sinks.to_json_ms"] = _mean(
        own for _, _, own in by_name["sinks.to_json_result"])
    out["sinks.workbook_ms"] = _mean(
        own for _, _, own in by_name["sinks.write_excel_workbook"])
    out["sinks.bytes_written"] = sum(b for _, b in trace["workbooks"])

    jobs = [j for j in trace["jobs"] if j["end"] and w0 <= j["start"] < w1]
    out["jobs.queue_wait_ms"] = _mean((j["start"] - j["submit"]) * 1000
                                      for j in jobs if j["submit"])
    out["jobs.run_ms"] = _mean((j["end"] - j["start"]) * 1000 for j in jobs)
    busy = sum(max(0.0, min(j["end"], w1) - max(j["start"], w0))
               for j in trace["jobs"] if j["end"])
    out["jobs.pool_busy_ratio"] = busy / (JOB_POOL_WORKERS * (w1 - w0))

    out["session.get_spark_ms"] = sum(
        (t1 - t0) * 1000 for rid, _, _, _, name, t0, t1 in spans
        if name == "session.get_spark")
    out["trace.query_p50_ms"] = (statistics.median(client_query_ms)
                                 if client_query_ms else 0.0)
    server_q = [root_ms[r] for r in http_rids
                if reqs[r]["cls"] in QUERY_CLASSES and r in root_ms]
    out["trace.query_span_coverage"] = (
        sum(server_q) / sum(client_query_ms)
        if server_q and client_query_ms else 0.0)
    return out
