"""Seeded request streams for the three closed-loop workloads.

A stream is an endless iterator of ``Req`` (one HTTP request) and
``JobTask`` (submit an async job, send other requests while it runs,
then poll it at a fixed interval).
Member keys, apartados, page numbers and search terms come from a
``random.Random`` seeded by (seed, phase, workload, connection), so
one seed always yields the same streams.  The form of each cube query
and job (hierarchies, levels, measures), and the order of the DMV
queries, come from a generator seeded by (phase, workload, connection)
alone: every seed sends the same sequence of forms with other keys, so
two runs with different seeds do comparable work.  Requests use
only forms the service documents: the MDX subset of ``mdx.py``, the
structured ``QueryRequest`` JSON, the DMV dialect, and the metadata
routes of ``http_api.py``.
"""
from __future__ import annotations

import itertools
import json
import random
from dataclasses import dataclass, field
from urllib.parse import quote

from .model import CATALOG, CUBE, HIERS, MEASURES, Replica, static_rowset_sizes

QUERY_CLASSES = ("query_mdx", "query_execute", "preview")
BROWSE_CLASSES = ("catalogs", "measures", "dimensions", "apartados",
                  "variables", "member_page", "member_search")
POLL_INTERVAL_S = 2.0        # the reference client's job poll (jobs.py)
JOB_ROW_LIMIT = 10_000       # JobRegistry's result limit
MEMBER_PAGE_SIZE = 1000      # the members route's default page size
ZIPF_EXPONENT = 1.1          # assumed; see README.md
MAX_QUERY_ROWS = 3000      # resample query shapes estimated above this


@dataclass
class Req:
    cls: str
    method: str
    path: str
    body: dict | None = None
    check: dict = field(default_factory=dict)   # what the verifier expects

    def key(self) -> str:
        return json.dumps([self.method, self.path, self.body],
                          sort_keys=True, ensure_ascii=False)


@dataclass
class JobTask:
    mdx: str
    spec: dict
    meanwhile: list         # Reqs sent while the job runs, before polling

    def key(self) -> str:
        return json.dumps(["job", self.mdx], ensure_ascii=False)


def classify(method: str, path: str, body: dict | None) -> str:
    """Request class of an HTTP call (shared with the traced server)."""
    if method == "POST":
        if path in ("/api/query/mdx", "/api/query/execute"):
            if (body or {}).get("preview"):
                return "preview"
            return "query_mdx" if path.endswith("mdx") else "query_execute"
        return {"/api/jobs": "job_submit", "/api/dmv": "dmv",
                "/api/export/workbook": "export"}.get(path, "other")
    if path.startswith("/api/jobs/"):
        return "job_poll"
    if path == "/api/catalogs":
        return "catalogs"
    tail = path.rsplit("/", 2)
    if tail[-2:] == ["members", "search"]:
        return "member_search"
    if tail[-1] == "members":
        return "member_page"
    return tail[-1] if tail[-1] in BROWSE_CLASSES else "other"


class Zipf:
    """Zipf-skewed choice over ``items``, so a small hot set repeats.  The
    popularity order is fixed: every seed draws from the same
    distribution, and only the draws differ.  ``ranked`` items come in
    popularity order already; others are shuffled into a fixed one."""

    def __init__(self, items: list, ranked: bool = False):
        self.items = list(items)
        if not ranked:
            random.Random(f"popularity/{len(items)}").shuffle(self.items)
        self.w = [1.0 / (i + 1) ** ZIPF_EXPONENT
                  for i in range(len(self.items))]

    def pick(self, rng: random.Random):
        return rng.choices(self.items, weights=self.w)[0]


# ---- query specs --------------------------------------------------------

ROW_LEVELS = {"cust": ["Region", "Nation"], "supp": ["Region", "Nation"],
              "prod": ["Brand", "Tipo"], "time": ["Año", "Mes"],
              "estado": ["Estado"], "prio": ["Prioridad"]}
# DESCENDANTS(parent member, leaf level): (parent level, leaf level)
DESCENDANTS = {"cust": ("Nation", "Customer"), "supp": ("Region", "Supplier"),
               "prod": ("Brand", "Part")}
FILTER_HIERS = ["cust", "seg", "supp", "prod", "time", "estado", "prio"]
CALC_ARGS = [("Sum Extendedprice", "Total Registros"),
             ("Sum Quantity", "Distinct Orders"),
             ("Sum Extendedprice", "Sum Quantity")]
CALC_NAME = "Ratio Calc"
QUERY_KINDS = ["plain1", "plain2", "plain3", "plain2", "descendants",
               "topcount", "order", "calc"]


class QueryGen:
    def __init__(self, replica: Replica):
        self.rep = replica
        self.members = {(hk, lv.name): replica.members_of(hk, lv.name)
                        for hk, h in HIERS.items() for lv in h.levels}
        self.captions = {k: replica.caption_count(*k) for k in self.members}
        # streams run on client threads, which must not share the DuckDB
        # connection: everything they need is read here
        self.sizes = {k: replica.level_size(*k) for k in self.members}

    def _member(self, rng, hk: str, level: str) -> list:
        return rng.choice(self.members[(hk, level)])[1]

    def _restrictions(self, rng, shape, spec: dict, used: set,
                      i: int) -> None:
        free = [h for h in FILTER_HIERS if h not in used]
        shape.shuffle(free)
        if i % 4 in (1, 3) and free:
            hk = free.pop()
            lv = shape.choice(HIERS[hk].levels[:2]).name
            pool = self.members[(hk, lv)]
            picks = rng.sample(pool, min(len(pool), shape.randint(1, 3)))
            spec["filters"] = [{"h": hk, "paths": [p[1] for p in picks]}]
        if i % 4 in (2, 3) and free:
            hk = free.pop()
            lv = shape.choice(HIERS[hk].levels[:2]).name
            spec["slicers"] = [{"h": hk, "path": self._member(rng, hk, lv)}]

    def estimate(self, spec: dict) -> int:
        est = 1
        for ax in spec["rows"]:
            if ax.get("under"):
                est *= 200      # a few dozen to a few hundred children
            else:
                est *= self.captions[(ax["h"], ax["level"])]
        return est

    def spec(self, rng: random.Random, kind: str, i: int,
             shape: random.Random) -> dict:
        """A query of ``kind``: ``shape`` draws its form (hierarchies,
        levels, measures, which hierarchies filter and slice, TOPCOUNT
        n, ORDER direction, calculated measure) and ``rng`` the member
        keys.  The ``i``-th query of a stream has 1 + i % 3 measures,
        and a member filter and a WHERE slicer in the pattern none /
        filter / slicer / both."""
        while True:
            spec = self._spec(rng, shape, kind, i)
            if self.estimate(spec) <= MAX_QUERY_ROWS:
                return spec

    def _spec(self, rng, shape, kind: str, i: int) -> dict:
        measures = shape.sample(list(MEASURES), 1 + i % 3)
        if kind == "descendants":
            hk = shape.choice(list(DESCENDANTS))
            parent, leaf = DESCENDANTS[hk]
            rows = [{"h": hk, "level": leaf,
                     "under": self._member(rng, hk, parent)}]
            if shape.random() < 0.5:
                extra = shape.choice(["estado", "prio", "time"])
                rows.append({"h": extra, "level": ROW_LEVELS[extra][0]})
        else:
            n_axes = int(kind[-1]) if kind.startswith("plain") \
                else shape.randint(1, 2)
            hks = shape.sample(list(ROW_LEVELS), n_axes)
            rows = [{"h": hk, "level": shape.choice(ROW_LEVELS[hk])}
                    for hk in hks]
        spec = {"rows": rows, "measures": measures}
        self._restrictions(rng, shape, spec, {ax["h"] for ax in rows}, i)
        if kind == "topcount":
            spec["topcount"] = {"n": shape.choice([5, 10, 20]),
                                "measure": measures[0]}
        elif kind == "order":
            spec["order"] = {"measure": measures[0],
                             "desc": shape.random() < 0.7}
        elif kind == "calc":
            args = shape.choice(CALC_ARGS)
            spec["calc"] = {"name": CALC_NAME, "args": list(args),
                            "alias": CALC_NAME.lower().replace(" ", "_")}
        return spec

    def job_spec(self, rng, i: int, shape: random.Random) -> dict:
        """The ``i``-th large-result job: Customer-level rows (alone, by
        Estado or by Prioridad) alternating with Part x Mes rows (alone
        or by Estado); every other pair sliced by a supplier region.
        ``shape`` draws the measures, ``rng`` the region."""
        measures = shape.sample(list(MEASURES), 1 + i % 2)
        if i % 2 == 0:
            rows = [{"h": "cust", "level": "Customer"}]
            extra = (None, "estado", "prio")[i // 2 % 3]
            if extra:
                rows.append({"h": extra, "level": ROW_LEVELS[extra][0]})
        else:
            rows = [{"h": "prod", "level": "Part"},
                    {"h": "time", "level": "Mes"}]
            if i // 2 % 2:
                rows.append({"h": "estado", "level": "Estado"})
        spec = {"rows": rows, "measures": measures}
        if i % 4 >= 2:
            spec["slicers"] = [{"h": "supp", "path": self._member(
                rng, "supp", "Region")}]
        return spec


def _axis_set(ax: dict) -> str:
    h = HIERS[ax["h"]]
    if ax.get("under"):
        return (f"DESCENDANTS({h.unique_name(ax['under'])}, "
                f"{h.level_path(ax['level'])})")
    return f"{h.level_path(ax['level'])}.MEMBERS"


def _calc_expr(calc: dict) -> str:
    a, b = calc["args"]
    return f"[Measures].[{a}] / [Measures].[{b}]"


def to_mdx(spec: dict) -> str:
    sets = [_axis_set(ax) for ax in spec["rows"]]
    rows = sets[-1]
    for s in reversed(sets[:-1]):
        rows = f"CROSSJOIN({s}, {rows})"
    if spec.get("topcount"):
        tc = spec["topcount"]
        rows = f"TOPCOUNT({rows}, {tc['n']}, [Measures].[{tc['measure']}])"
    if spec.get("order"):
        o = spec["order"]
        rows = (f"ORDER({rows}, [Measures].[{o['measure']}], "
                f"{'DESC' if o['desc'] else 'ASC'})")
    names = list(spec["measures"])
    head = ""
    if spec.get("calc"):
        names.append(spec["calc"]["name"])
        head = (f"WITH MEMBER [Measures].[{spec['calc']['name']}] AS "
                f"'{_calc_expr(spec['calc'])}' ")
    cols = ", ".join(f"[Measures].[{m}]" for m in names)
    where = [HIERS[s["h"]].unique_name(s["path"])
             for s in spec.get("slicers", [])]
    where += ["{" + ", ".join(HIERS[f["h"]].unique_name(p) for p in f["paths"])
              + "}" for f in spec.get("filters", [])]
    mdx = (f"{head}SELECT {{{cols}}} ON COLUMNS, NON EMPTY {rows} ON ROWS "
           f"FROM [{CUBE}]")
    return mdx + (f" WHERE ({', '.join(where)})" if where else "")


def to_json(spec: dict, preview: bool = False) -> dict:
    rows = []
    for ax in spec["rows"]:
        h = HIERS[ax["h"]]
        item = {"dimension": h.dim, "hierarchy": h.name,
                "level": ax["level"]}
        if ax.get("under"):
            item["members"] = [h.unique_name(ax["under"])]
        rows.append(item)
    body = {"catalog": CATALOG, "cube": CUBE, "rows": rows,
            "measures": list(spec["measures"]), "preview": preview}
    if spec.get("filters"):
        body["filters"] = [
            {"dimension": HIERS[f["h"]].dim, "hierarchy": HIERS[f["h"]].name,
             "members": [HIERS[f["h"]].unique_name(p) for p in f["paths"]]}
            for f in spec["filters"]]
    if spec.get("slicers"):
        body["slicers"] = [HIERS[s["h"]].unique_name(s["path"])
                           for s in spec["slicers"]]
    if spec.get("topcount"):
        body["topcount"] = dict(spec["topcount"])
    if spec.get("order"):
        body["order_by"] = [spec["order"]["measure"], spec["order"]["desc"]]
    if spec.get("calc"):
        body["measures"].append(spec["calc"]["name"])
        body["calculated"] = [{"name": spec["calc"]["name"],
                               "expr": _calc_expr(spec["calc"])}]
    return body


def query_req(spec: dict, as_mdx: bool, preview: bool = False) -> Req:
    check = {"kind": "query", "spec": spec, "preview": preview}
    if as_mdx:
        return Req("preview" if preview else "query_mdx", "POST",
                   "/api/query/mdx", {"catalog": CATALOG, "mdx": to_mdx(spec),
                                      "preview": preview}, check)
    return Req("preview" if preview else "query_execute", "POST",
               "/api/query/execute", to_json(spec, preview), check)


# ---- streams ------------------------------------------------------------

def analyst_stream(rng: random.Random, gen: QueryGen, shapes: str):
    """Distinct ad-hoc cube queries, half raw MDX and half structured
    JSON.  Query kinds come in a fixed cycle; ``shapes`` seeds the form
    of each query and ``rng`` picks its member keys."""
    for i in itertools.count():
        kind = QUERY_KINDS[i % len(QUERY_KINDS)]
        as_mdx = (i + i // len(QUERY_KINDS)) % 2 == 0
        shape = random.Random(f"{shapes}/{i}")
        yield query_req(gen.spec(rng, kind, i, shape), as_mdx)


MEMBER_LEVELS = [("cust", "Nation"), ("cust", "Customer"), ("prod", "Brand"),
                 ("prod", "Part"), ("time", "Mes")]


# (hierarchy, level, caption -> search term): whole names, name prefixes
# that match 10 or 100 members, part-name nouns
SEARCH_TERMS = [("cust", "Nation", str), ("cust", "Customer", lambda c: c[:-2]),
                ("supp", "Supplier", lambda c: c[:-1]), ("prod", "Brand", str),
                ("prod", "Part", lambda c: c.split()[-1]), ("time", "Mes", str)]


def _search_terms(gen: QueryGen) -> list[tuple[str, str]]:
    """(term, dimension) pairs cut from the first captions of a level."""
    return sorted({(term(cap), HIERS[hk].dim)
                   for hk, level, term in SEARCH_TERMS
                   for _, _, cap in gen.members[(hk, level)][:30]})


def wizard_stream(rng: random.Random, gen: QueryGen, shapes: str):
    """One frontend wizard session after another: catalogs, measures,
    dimensions, apartados, variables, five member pages, two searches
    and one preview query (one axis, one measure).  ``rng`` makes the
    Zipf-skewed choices; ``shapes`` seeds the form of each preview."""
    base = f"/api/catalogs/{CATALOG}"
    apartados = Zipf([m[0] for m in gen.members[("var", "Apartado")]])
    terms = Zipf(_search_terms(gen))
    # page numbers, the first page the most visited
    pages = {lv: Zipf(range(max(1, -(-gen.sizes[lv] // MEMBER_PAGE_SIZE))),
                      ranked=True)
             for lv in MEMBER_LEVELS}
    for session in itertools.count():
        yield Req("catalogs", "GET", "/api/catalogs", None,
                  {"kind": "catalogs"})
        yield Req("measures", "GET", f"{base}/measures", None,
                  {"kind": "measures"})
        yield Req("dimensions", "GET", f"{base}/dimensions", None,
                  {"kind": "dimensions"})
        yield Req("apartados", "GET", f"{base}/apartados", None,
                  {"kind": "apartados"})
        picks = sorted({apartados.pick(rng) for _ in range(rng.randint(1, 3))})
        yield Req("variables", "GET",
                  f"{base}/variables?apartados=" + quote(";".join(picks)),
                  None, {"kind": "variables", "parents": picks})
        for hk, level in MEMBER_LEVELS:
            h = HIERS[hk]
            offset = pages[(hk, level)].pick(rng) * MEMBER_PAGE_SIZE
            qs = (f"dimension={quote(h.dim)}&hierarchy="
                  f"{quote(h.dim + '.' + h.name)}&level={quote(level)}"
                  f"&limit={MEMBER_PAGE_SIZE}&offset={offset}")
            yield Req("member_page", "GET", f"{base}/members?{qs}", None,
                      {"kind": "member_page", "h": hk, "level": level,
                       "limit": MEMBER_PAGE_SIZE, "offset": offset})
        for _ in range(2):
            term, dim = terms.pick(rng)
            dim = dim if rng.random() < 0.5 else None
            qs = f"q={quote(term)}" + (f"&dimension={quote(dim)}" if dim else "")
            yield Req("member_search", "GET", f"{base}/members/search?{qs}",
                      None, {"kind": "member_search", "term": term,
                             "dimension": dim})
        shape = random.Random(f"{shapes}/preview/{session}")
        yield query_req(gen.spec(rng, "plain1", 0, shape), as_mdx=False,
                        preview=True)


def dmv_forms(gen: QueryGen) -> tuple[list, list]:
    """(DMV SQL, expected row count) pairs derived from the registry
    layout and the replica's member table: registry rowsets, and member
    rowsets (which enumerate members on every call; the service returns
    at most one member page of DMV rows)."""
    static = [(f"SELECT * FROM $system.{name}", n)
              for name, n in static_rowset_sizes().items()]
    for dim in sorted({h.dim for h in HIERS.values()}):
        hs = [h for h in HIERS.values() if h.dim == dim]
        static.append((f"SELECT [LEVEL_NAME], [LEVEL_NUMBER] FROM "
                       f"$system.MDSCHEMA_LEVELS WHERE "
                       f"[DIMENSION_UNIQUE_NAME]='[{dim}]'",
                       sum(len(h.levels) for h in hs)))
    members = [(f"SELECT [MIEMBRO_CAPTION], [MIEMBRO_UNIQUE_NAME] FROM "
                f"$system.MDSCHEMA_MEMBERS WHERE [JERARQUIA]='{h.dim}."
                f"{h.name}' AND [NIVEL_NOMBRE]='{lv.name}'",
                min(gen.sizes[(hk, lv.name)], MEMBER_PAGE_SIZE))
               for hk, h in HIERS.items() for lv in h.levels]
    return static, members


def backoffice_stream(rng: random.Random, gen: QueryGen, shapes: str):
    """Back-office connection: async jobs with large results; while each
    job runs, the client sends one registry DMV query and one member DMV
    query, then polls the job.  The DMV queries cycle through every form
    in an order ``shapes`` seeds."""
    static, members = dmv_forms(gen)
    order = random.Random(shapes)
    for forms in (static, members):
        order.shuffle(forms)
    for i in itertools.count():
        spec = gen.job_spec(rng, i, random.Random(f"{shapes}/job/{i}"))
        dmvs = [Req("dmv", "POST", "/api/dmv", {"sql": sql},
                    {"kind": "dmv", "rows": n})
                for sql, n in (forms[i % len(forms)]
                               for forms in (static, members))]
        yield JobTask(to_mdx(spec), spec, dmvs)


def export_stream(rng: random.Random, gen: QueryGen, shapes: str):
    """One metadata workbook export."""
    yield Req("export", "POST", "/api/export/workbook",
              {"filename": f"metadata_{rng.randrange(10**6):06d}.xlsx"},
              {"kind": "export"})


STREAMS = {"analyst": analyst_stream, "wizard": wizard_stream,
           "backoffice": backoffice_stream, "export": export_stream}

# workload -> the stream kind of each connection.  Two clients each: on
# 4 CPUs, 4 wizard clients left the Spark task threads, the server's
# Python threads and the JIT compiler fighting for CPUs, and spread
# throughput further from run to run.
WORKLOADS = {
    "analyst_mdx": ["analyst", "analyst"],
    "wizard_browse": ["wizard", "wizard"],
    "backoffice_mixed": ["analyst", "backoffice"],
}
# warm-up pass, run sequentially under a seed of its own: the first items
# of each stream kind
WARMUP = {"analyst_mdx": [("analyst", 2)],
          "wizard_browse": [("wizard", 13)],
          "backoffice_mixed": [("analyst", 2), ("backoffice", 1)]}


def streams(workload: str, seed: int, gen: QueryGen, max_conns: int,
            phase: str = "timed"):
    """One stream per connection, at most ``max_conns`` of them.  Each
    ``phase`` draws its own query forms.  In the ``settle`` phase the
    back-office client first exports the metadata workbook."""
    out = []
    for i, kind in enumerate(WORKLOADS[workload][:max_conns]):
        name = f"{phase}/{workload}/{i}"
        rng = random.Random(f"{seed}/{name}")
        stream = STREAMS[kind](rng, gen, name)
        if phase == "settle" and kind == "backoffice":
            stream = itertools.chain(export_stream(rng, gen, name), stream)
        out.append(stream)
    return out


def warmup_items(workload: str, seed: int, gen: QueryGen) -> list:
    """The items of the sequential warm-up pass."""
    items = []
    for kind, n in WARMUP[workload]:
        name = f"warmup/{workload}"
        stream = STREAMS[kind](random.Random(f"{seed}/{name}"), gen, name)
        items += itertools.islice(stream, n)
    return items
