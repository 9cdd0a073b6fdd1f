"""Check every distinct response against the DuckDB replica.

``verify(samples, replica, export_dir)`` fills ``Sample.wrong`` with a
one-line reason for each wrong answer; non-2xx replies and timeouts are
failures already.  Each distinct (request, response body) pair is
checked once.
"""
from __future__ import annotations

import json
import math
import os

from .model import CATALOGS, HIERS, MEASURES, Replica, static_rowset_sizes
from .workloads import JOB_ROW_LIMIT

PREVIEW_LIMIT = 20
SEARCH_LIMIT = 1000
REL_TOL = 1e-9
ABS_TOL = 1e-6


def _num_eq(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    try:
        fa, fb = float(a), float(b)
    except (TypeError, ValueError):
        return str(a) == str(b)
    if math.isnan(fa) or math.isnan(fb):
        return math.isnan(fa) and math.isnan(fb)
    return math.isclose(fa, fb, rel_tol=REL_TOL, abs_tol=ABS_TOL)


def compare_rows(spec: dict, cols: list[str], rows: list[list],
                 replica: Replica, limit: int | None = None) -> str:
    """'' when ``rows`` (in any order) answer ``spec``; else a reason.
    ``limit``: the server may return any ``limit`` rows of the answer."""
    exp_cols, exp_rows = replica.query_rows(spec)
    if sorted(cols) != sorted(exp_cols):
        return f"columns {cols} != {exp_cols}"
    idx = [cols.index(c) for c in exp_cols]
    got = [[r[i] for i in idx] for r in rows]
    n_keys = len(spec["rows"])
    expected = {tuple(str(v) for v in r[:n_keys]): r for r in exp_rows}
    tc = spec.get("topcount")
    want = len(expected)
    if tc:
        want = min(tc["n"], want)
    if limit is not None:
        want = min(limit, want)
    if len(got) != want:
        return f"{len(got)} rows, expected {want}"
    seen = set()
    for r in got:
        key = tuple(str(v) for v in r[:n_keys])
        if key in seen:
            return f"duplicate row {key}"
        seen.add(key)
        exp = expected.get(key)
        if exp is None:
            return f"unexpected row {key}"
        for c, a, b in zip(exp_cols[n_keys:], r[n_keys:], exp[n_keys:]):
            if not _num_eq(a, b):
                return f"row {key} {c}: {a} != {b}"
    if tc:
        col = exp_cols.index(MEASURES[tc["measure"]][0])
        vals = sorted((r[col] for r in exp_rows if r[col] is not None),
                      reverse=True)
        cut = vals[min(tc["n"], len(vals)) - 1] if vals else None
        for r in got:
            if cut is not None and float(r[col]) < cut - ABS_TOL:
                return f"TOPCOUNT kept {r[col]} below the cut {cut}"
    return ""


def _check_query(body: dict, check: dict, replica: Replica) -> str:
    rows = body["rows"]
    if body.get("rowCount") != len(rows):
        return "rowCount does not match rows"
    cols = [c["field"] for c in body["columns"]]
    return compare_rows(check["spec"], cols, [[r[c] for c in cols]
                                              for r in rows], replica,
                        PREVIEW_LIMIT if check["preview"] else None)


def _check_job(body: dict, check: dict, replica: Replica) -> str:
    status = body.get("status")
    if status in ("PENDING", "RUNNING"):
        return ""
    if status != "COMPLETED":
        return f"job {status}: {body.get('error_message')}"
    res = body["result_data"]
    if res["count"] != len(res["data"]):
        return "result count does not match data"
    return compare_rows(check["spec"], res["columns"], res["data"], replica,
                        JOB_ROW_LIMIT)


def _check_members(body: dict, check: dict, replica: Replica) -> str:
    total = replica.level_size(check["h"], check["level"])
    if body["total"] != total:
        return f"total {body['total']} != {total}"
    want = max(0, min(check["limit"], total - check["offset"]))
    got = [m["MIEMBRO_UNIQUE_NAME"] for m in body["members"]]
    if len(got) != want:
        return f"page of {len(got)} members, expected {want}"
    exp = replica.member_page(check["h"], check["level"], check["limit"],
                              check["offset"])
    if got != exp:
        return "page members differ from the caption-ordered slice"
    return ""


def _check_search(body: list, check: dict, replica: Replica) -> str:
    term = check["term"].upper()
    for hit in body:
        if term not in hit["MIEMBRO_CAPTION"].upper():
            return f"hit {hit['MIEMBRO_CAPTION']!r} lacks {check['term']!r}"
        if check["dimension"] and hit["DIMENSION"] != check["dimension"]:
            return f"hit outside dimension {check['dimension']!r}"
    want = min(SEARCH_LIMIT, replica.search_count(check["term"],
                                                  check["dimension"]))
    if len(body) != want:
        return f"{len(body)} hits, expected {want}"
    return ""


def _check_dimensions(body: list) -> str:
    got = {(d["name"], h["name"]): [lv["name"] for lv in h["levels"]]
           for d in body for h in d["hierarchies"]}
    exp = {(h.dim, h.name): [lv.name for lv in h.levels]
           for h in HIERS.values()}
    return "" if got == exp else "dimensions differ from the cube layout"


def _check_export(body: dict, export_dir: str, replica: Replica) -> str:
    sheets = body["sheets"]
    exp = dict(static_rowset_sizes(), RESUMEN=3,
               MDSCHEMA_MEMBERS=replica.total_members())
    for name, n in exp.items():
        if sheets.get(name) != n:
            return f"sheet {name}: {sheets.get(name)} rows, expected {n}"
    if not sheets.get("MDSCHEMA_FUNCTIONS"):
        return "empty MDSCHEMA_FUNCTIONS sheet"
    path = os.path.join(export_dir, os.path.basename(body["path"]))
    if not os.path.isfile(path) or os.path.getsize(path) == 0:
        return f"workbook {path} missing"
    return ""


def check_one(body, check: dict, replica: Replica, export_dir: str) -> str:
    kind = check["kind"]
    if kind == "query":
        return _check_query(body, check, replica)
    if kind == "job_submit":
        return "" if body.get("status") == "PENDING" and body.get("id") \
            else "submit reply lacks a PENDING job id"
    if kind == "job_poll":
        return _check_job(body, check, replica)
    if kind == "member_page":
        return _check_members(body, check, replica)
    if kind == "member_search":
        return _check_search(body, check, replica)
    if kind == "catalogs":
        names = sorted(c["CATALOG_NAME"] for c in body)
        return "" if names == CATALOGS else f"catalogs {names}"
    if kind == "measures":
        names = sorted(m["name"] for m in body)
        return "" if names == sorted(MEASURES) else f"measures {names}"
    if kind == "dimensions":
        return _check_dimensions(body)
    if kind == "apartados":
        n = replica.level_size("var", "Apartado")
        return "" if len(body) == n else f"{len(body)} apartados, expected {n}"
    if kind == "variables":
        n = replica.children_count(check["parents"])
        return "" if len(body) == n else f"{len(body)} variables, expected {n}"
    if kind == "dmv":
        if body["count"] != len(body["data"]):
            return "DMV count does not match data"
        n = check["rows"]
        return "" if body["count"] == n else \
            f"DMV returned {body['count']} rows, expected {n}"
    if kind == "export":
        return _check_export(body, export_dir, replica)
    return f"no check for {kind!r}"


def verify(samples: list, replica: Replica, export_dir: str) -> None:
    verdicts: dict[tuple, str] = {}
    for s in samples:
        if not (200 <= s.status < 300):
            continue
        vkey = (s.key, hash(s.body))
        if vkey not in verdicts:
            try:
                verdicts[vkey] = check_one(json.loads(s.body), s.check,
                                           replica, export_dir)
            except Exception as exc:    # malformed reply
                verdicts[vkey] = f"unreadable reply: {type(exc).__name__} {exc}"
        s.wrong = verdicts[vkey]
