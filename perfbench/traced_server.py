"""Traced server bootstrap: wraps the public entry points of each layer of
``olap_xtrctr_spark`` in spans, then runs the unmodified CLI.

    python perfbench/traced_server.py --sf-dir DATA serve --port N

Nothing under ``olap_xtrctr_spark/`` is edited: functions are replaced
on the modules and classes that hold them, at every place a name was
imported (``service.parse_mdx`` as well as ``mdx.parse_mdx``).  Each
HTTP request gets a span tree and its own Spark job group, so jobs,
stages and tasks are read per request from
``SparkContext.statusTracker()``.  Spans stay in memory and are written
to ``spans.json`` in the working directory on SIGTERM.
"""
from __future__ import annotations

import functools
import itertools
import json
import os
import queue
import signal
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workloads import classify  # noqa: E402

OUT_FILE = "spans.json"
COLLECT_DELAY_S = 0.5       # let the listener bus settle before reading


class Tracer:
    def __init__(self) -> None:
        self.local = threading.local()
        self.ids = itertools.count(1)
        self.job_ids = itertools.count(1)
        self.spans: list[tuple] = []           # rid, sid, parent, layer, name, t0, t1
        self.requests: dict[str, dict] = {}    # rid -> cls, t0, t1, bytes, groups
        self.jobs: list[dict] = []             # submit, start, end
        self.cache_calls: list[tuple] = []     # t0, t1, hit
        self.workbooks: list[tuple] = []       # t1, bytes
        self.groups: dict[str, list[int]] = {}  # group -> jobs, stages, tasks
        self._pending: queue.Queue = queue.Queue()
        threading.Thread(target=self._collect_loop, daemon=True).start()

    # ---- span stack ------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self.local, "stack", None)
        if st is None:
            st = self.local.stack = []
        return st

    def rid(self) -> str:
        return getattr(self.local, "rid", "")

    def wrap(self, layer: str, name: str, fn, group_tag: str | None = None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            st = tracer._stack()
            sid, parent = next(tracer.ids), (st[-1] if st else 0)
            rid = tracer.rid()
            if group_tag and rid:
                tracer.set_group(f"{rid}|{group_tag}")
            st.append(sid)
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.time()
                st.pop()
                if group_tag and rid:
                    tracer.set_group(rid)
                tracer.spans.append((rid, sid, parent, layer, name, t0, t1))
        return traced

    # ---- spark job groups ------------------------------------------------

    @staticmethod
    def _sc():
        from pyspark import SparkContext
        return SparkContext._active_spark_context

    def set_group(self, group: str) -> None:
        sc = self._sc()
        if sc is None:
            return
        sc.setJobGroup(group, group)
        rec = self.requests.get(group.split("|")[0])
        if rec is not None and group not in rec["groups"]:
            rec["groups"].append(group)

    def begin(self, rid: str, cls: str) -> None:
        self.local.rid = rid
        self.local.stack = []
        self.requests[rid] = {"cls": cls, "t0": time.time(), "t1": None,
                              "bytes": 0, "groups": []}
        self.set_group(rid)

    def end(self, rid: str) -> None:
        rec = self.requests[rid]
        rec["t1"] = time.time()
        self.local.rid = ""
        for g in rec["groups"]:
            self._pending.put((time.time() + COLLECT_DELAY_S, g))

    def _collect(self, group: str) -> None:
        tracker = self._sc().statusTracker()
        jobs = stages = tasks = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        self.groups[group] = [jobs, stages, tasks]

    def _collect_loop(self) -> None:
        while True:
            due, group = self._pending.get()
            time.sleep(max(0.0, due - time.time()))
            try:
                self._collect(group)
            except Exception as exc:   # a stopped context: keep the rest
                self.groups[group] = [-1, -1, -1]
                print(f"trace: cannot read group {group}: {exc}",
                      file=sys.stderr)
            finally:
                self._pending.task_done()

    def dump(self, path: str) -> None:
        self._pending.join()        # every finished request's groups read
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "requests": self.requests,
                       "jobs": self.jobs, "cache_calls": self.cache_calls,
                       "workbooks": self.workbooks, "groups": self.groups}, f)


TRACE: Tracer       # created by main(), never at import


def _patch_everywhere(modules, name: str, layer: str, label: str,
                      group_tag: str | None = None):
    """Replace function ``name`` on every module that binds it."""
    orig = next(getattr(m, name) for m in modules if hasattr(m, name))
    wrapped = TRACE.wrap(layer, label, orig, group_tag)
    for m in modules:
        if getattr(m, name, None) is orig:
            setattr(m, name, wrapped)


def _patch_method(cls, name: str, layer: str, group_tag: str | None = None):
    setattr(cls, name, TRACE.wrap(layer, f"{layer}.{name}",
                                  cls.__dict__[name], group_tag))


def install() -> None:
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    import olap_xtrctr_spark as pkg
    from olap_xtrctr_spark import (cube, http_api, jobs, mdx, members,
                                   metadata, query, service, session, sinks)
    mods = [pkg, cube, http_api, jobs, mdx, members, metadata, query,
            service, session, sinks]

    for name in ("collect", "count", "toPandas", "take", "first"):
        _patch_method(DataFrame, name, "spark")
    for name in ("parquet", "csv", "json", "save"):
        _patch_method(DataFrameWriter, name, "spark")

    for name in ("get_spark", "load_table"):
        _patch_everywhere(mods, name, "session", f"session.{name}")
    for name in ("parse_mdx", "execute_dmv"):
        _patch_everywhere(mods, name, "mdx", f"mdx.{name}")
    for name in ("sanitize", "to_json_result"):
        _patch_everywhere(mods, name, "sinks", f"sinks.{name}")
    for name in ("paginate_members", "get_dimension_members",
                 "search_members", "get_apartados", "children_of"):
        _patch_everywhere(mods, name, "members", f"members.{name}")
    for name in ("_orders_wide", "_customer_geo", "_orders_dim",
                 "_supplier_geo", "_part_view"):
        _patch_everywhere(mods, name, "cube", f"cube.{name}")
    _patch_method(cube.CubeDef, "fact", "cube")
    for name in ("members_df", "catalogs_df", "discover_properties_df"):
        _patch_everywhere(mods, name, "metadata", f"metadata.{name}")
    _patch_everywhere(mods, "register_dmv_views", "metadata",
                      "metadata.register_dmv_views", group_tag="dmv_register")
    _patch_method(query.CubeQueryEngine, "execute", "query",
                  group_tag="execute")

    # members cache: every navigation call asks OlapService._members,
    # which builds the table on its first call per catalog
    for name, attr in list(vars(service.OlapService).items()):
        if callable(attr) and not name.startswith("__"):
            _patch_method(service.OlapService, name, "service")
    members_span = service.OlapService._members

    def _members(self, catalog):
        hit = catalog in self._members_cache
        t0 = time.time()
        try:
            return members_span(self, catalog)
        finally:
            TRACE.cache_calls.append((t0, time.time(), hit))
    service.OlapService._members = _members
    _patch_everywhere(mods, "cached_members_df", "metadata",
                      "metadata.cached_members_df", group_tag="members_cache")

    workbook_span = TRACE.wrap("sinks", "sinks.write_excel_workbook",
                               sinks.write_excel_workbook)

    def write_excel_workbook(path, sheets):
        try:
            return workbook_span(path, sheets)
        finally:
            size = os.path.getsize(path) if os.path.exists(path) else 0
            TRACE.workbooks.append((time.time(), size))
    service.write_excel_workbook = write_excel_workbook

    # jobs: queue wait (submit -> runner start) and run time per job
    orig_submit = jobs.JobRegistry.submit
    run_span = TRACE.wrap("jobs", "jobs.run", jobs.JobRegistry._run)

    def submit(self, catalog_code, mdx_query, runner):
        t_submit = time.time()

        def traced_runner():
            TRACE.local.job["submit"] = t_submit
            return runner()
        return orig_submit(self, catalog_code, mdx_query, traced_runner)

    def _run(self, job_id, runner):
        rid = f"j{next(TRACE.job_ids)}"
        rec = {"submit": None, "start": time.time(), "end": None}
        TRACE.local.job = rec
        TRACE.begin(rid, "job_run")
        try:
            return run_span(self, job_id, runner)
        finally:
            rec["end"] = time.time()
            TRACE.jobs.append(rec)
            TRACE.end(rid)
    jobs.JobRegistry.submit = TRACE.wrap("jobs", "jobs.submit", submit)
    jobs.JobRegistry._run = _run

    # http_api: one root span per request, the dispatch span below it
    _patch_method(http_api._Routes, "dispatch", "http_api")
    make_handler = http_api._make_handler

    def traced_make_handler(svc):
        base = make_handler(svc)

        class Handler(base):
            def send_header(self, keyword, value):
                if keyword == "Content-Length" and TRACE.rid():
                    TRACE.requests[TRACE.rid()]["bytes"] = int(value)
                super().send_header(keyword, value)

            def _handle(self, method):
                rid = f"r{next(TRACE.ids)}"
                # POST bodies are read by the real handler; dispatch
                # below refines the class from the body
                TRACE.begin(rid, classify(method, self.path.split("?")[0],
                                          None))
                try:
                    TRACE.wrap("http_api", "http_api.handle",
                               base._handle)(self, method)
                finally:
                    TRACE.end(rid)
        return Handler
    http_api._make_handler = traced_make_handler

    orig_dispatch = http_api._Routes.dispatch

    def dispatch(self, svc, method, path, qs, body):
        rid = TRACE.rid()
        if rid and method == "POST":
            TRACE.requests[rid]["cls"] = classify(method, path, body)
        return orig_dispatch(self, svc, method, path, qs, body)
    http_api._Routes.dispatch = dispatch


def _on_term(signum, frame) -> None:
    try:
        TRACE.dump(OUT_FILE)
    finally:
        os._exit(0)


def main(argv: list[str]) -> int:
    global TRACE
    TRACE = Tracer()
    install()
    signal.signal(signal.SIGTERM, _on_term)
    from olap_xtrctr_spark.__main__ import main as cli_main
    return cli_main(argv)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
