"""The `sales` cube as the HTTP API exposes it, plus an independent
DuckDB replica of its data used to draw request keys and to check
answers.

The hierarchy table below mirrors what ``GET /api/catalogs/{c}/
dimensions`` returns; every run checks that response against it, so
a drift between the two fails loudly.  Every
expected answer (query cells, member pages, DMV row counts, workbook
sheet sizes) is computed here with DuckDB over the same parquet files
the server reads — never by asking the server.
"""
from __future__ import annotations

from dataclasses import dataclass

import duckdb

CATALOG = "VENTAS_2025"
CUBE = "sales"
MONTHS_ES = ["Enero", "Febrero", "Marzo", "Abril", "Mayo", "Junio", "Julio",
             "Agosto", "Septiembre", "Octubre", "Noviembre", "Diciembre"]


@dataclass(frozen=True)
class Level:
    name: str
    key: str        # key column in the replica's fact/member views
    caption: str    # caption column
    out: str        # column name in query results


@dataclass(frozen=True)
class Hier:
    dim: str
    name: str
    source: str     # replica view that enumerates the members
    levels: tuple

    def level(self, name: str) -> Level:
        return next(lv for lv in self.levels if lv.name == name)

    def unique_name(self, keys) -> str:
        base = f"[{self.dim}].[{self.name}].[{self.levels[0].name}]"
        return base + "".join(f".&[{k}]" for k in keys)

    def level_path(self, level: str) -> str:
        return f"[{self.dim}].[{self.name}].[{level}]"


HIERS = {
    "cust": Hier("Dim Customer", "Geografía", "customer_geo", (
        Level("Region", "cust_region_key", "cust_region", "region"),
        Level("Nation", "cust_nation_key", "cust_nation", "nation"),
        Level("Customer", "cust_customer_key", "cust_customer", "customer"))),
    "seg": Hier("Dim Customer", "Segmento", "customer_geo", (
        Level("Segmento", "cust_segment", "cust_segment", "segmento"),)),
    "supp": Hier("Dim Proveedor", "Geografía Proveedor", "supplier_geo", (
        Level("Region", "supp_region_key", "supp_region", "supp_region"),
        Level("Nation", "supp_nation_key", "supp_nation", "supp_nation"),
        Level("Supplier", "supp_supplier_key", "supp_supplier", "supplier"))),
    "prod": Hier("Dim Producto", "Producto", "part_view", (
        Level("Brand", "prod_brand", "prod_brand", "brand"),
        Level("Tipo", "prod_tipo", "prod_tipo", "tipo"),
        Level("Part", "prod_part_key", "prod_part", "part"))),
    "var": Hier("DIM VARIABLES2025", "Apartado y Variable", "part_view", (
        Level("Apartado", "prod_brand", "prod_brand", "apartado"),
        Level("Variable", "prod_part_key", "prod_part", "variable"))),
    "time": Hier("D Tiempo", "Calendario", "time_view", (
        Level("Año", "anio", "anio", "anio"),
        Level("Mes", "mes_num", "mes", "mes"))),
    "estado": Hier("Dim Orders", "Estado", "orders_dim", (
        Level("Estado", "order_estado", "order_estado", "estado"),)),
    "prio": Hier("Dim Orders", "Prioridad", "orders_dim", (
        Level("Prioridad", "order_prioridad", "order_prioridad",
              "prioridad"),)),
}

# measure name -> (result column, DuckDB aggregate); SUM/AVG run through
# DECIMAL(18,4) exactly as the cube declares them
MEASURES = {
    "Sum Extendedprice": ("sum_extendedprice",
                          "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))"
                          " AS DOUBLE)"),
    "Total Registros": ("total_registros", "COUNT(*)"),
    "Sum Quantity": ("sum_quantity",
                     "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)"),
    "Avg Discount": ("avg_discount",
                     "CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE)"
                     " / COUNT(l_discount)"),
    "Distinct Orders": ("distinct_orders", "COUNT(DISTINCT l_orderkey)"),
}
HIDDEN_MEASURES = ["Sum Tax"]

# registry layout: catalogs, cubes and the DMV rowsets derived from it
CATALOGS = ["VENTAS_1998", "VENTAS_2025"]
N_CUBES = 3          # sales, its '$Dim Customer' twin, ventas1998


def static_rowset_sizes() -> dict[str, int]:
    """Row counts of the registry-derived DMV rowsets of the default
    cube (everything except MEMBERS and FUNCTIONS)."""
    by_dim: dict[str, list] = {}
    for h in HIERS.values():
        by_dim.setdefault(h.dim, []).append(h)
    return {
        "DBSCHEMA_CATALOGS": len(CATALOGS),
        "MDSCHEMA_CUBES": N_CUBES,
        "MDSCHEMA_DIMENSIONS": len(by_dim),
        "MDSCHEMA_HIERARCHIES": len(HIERS),
        "MDSCHEMA_LEVELS": sum(len(h.levels) for h in HIERS.values()),
        "MDSCHEMA_MEASURES": len(MEASURES) + len(HIDDEN_MEASURES),
        # one property per (level, ancestor level)
        "MDSCHEMA_PROPERTIES": sum(i for h in HIERS.values()
                                   for i in range(len(h.levels))),
    }


_MES_CASE = ("CASE month(l_shipdate) " + " ".join(
    f"WHEN {i + 1} THEN '{m}'" for i, m in enumerate(MONTHS_ES)) + " END")

_VIEWS = {
    "customer_geo": """
        SELECT r_regionkey AS cust_region_key, r_name AS cust_region,
               n_nationkey AS cust_nation_key, n_name AS cust_nation,
               c_custkey AS cust_customer_key, c_name AS cust_customer,
               c_mktsegment AS cust_segment
        FROM customer JOIN nation ON c_nationkey = n_nationkey
                      JOIN region ON n_regionkey = r_regionkey""",
    "supplier_geo": """
        SELECT s_suppkey, r_regionkey AS supp_region_key,
               r_name AS supp_region, n_nationkey AS supp_nation_key,
               n_name AS supp_nation, s_suppkey AS supp_supplier_key,
               s_name AS supp_supplier
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
                      JOIN region ON n_regionkey = r_regionkey""",
    "part_view": """
        SELECT p_partkey, p_brand AS prod_brand, p_type AS prod_tipo,
               p_partkey AS prod_part_key, p_name AS prod_part
        FROM part""",
    "time_view": f"""
        SELECT DISTINCT year(l_shipdate) AS anio,
               month(l_shipdate) AS mes_num, {_MES_CASE} AS mes
        FROM lineitem""",
    "orders_dim": """
        SELECT o_orderstatus AS order_estado,
               o_orderpriority AS order_prioridad FROM orders""",
    "fact": f"""
        SELECT l.*, year(l_shipdate) AS anio, month(l_shipdate) AS mes_num,
               {_MES_CASE} AS mes,
               o_orderstatus AS order_estado,
               o_orderpriority AS order_prioridad,
               cg.*, sg.* EXCLUDE (s_suppkey), pv.* EXCLUDE (p_partkey)
        FROM lineitem l
        JOIN orders o ON l_orderkey = o_orderkey
        JOIN customer_geo cg ON o_custkey = cg.cust_customer_key
        JOIN supplier_geo sg ON l_suppkey = sg.s_suppkey
        JOIN part_view pv ON l_partkey = pv.p_partkey""",
}

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem")


class Replica:
    """DuckDB over the generated parquet: fact view, member table, key
    catalog, and the reference answers."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET enable_progress_bar = false")
        self.con.execute("SET threads = 2")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{data_dir}/{t}.parquet')")
        for name, sql in _VIEWS.items():
            self.con.execute(f"CREATE TABLE {name} AS {sql}")
        self._build_members()

    def _build_members(self) -> None:
        parts = []
        for hk, h in HIERS.items():
            for d, lv in enumerate(h.levels, start=1):
                keys = [x.key for x in h.levels[:d]]
                uname = " || ".join(
                    [f"'{h.unique_name([])}'"]
                    + [f"'.&[' || CAST({k} AS VARCHAR) || ']'" for k in keys])
                parts.append(
                    f"SELECT DISTINCT '{hk}' AS h, {d} AS depth, "
                    f"'{lv.name}' AS level, CAST({lv.caption} AS VARCHAR) "
                    f"AS caption, {uname} AS uname, "
                    f"list_value({', '.join(f'CAST({k} AS VARCHAR)' for k in keys)}) "
                    f"AS keys FROM {h.source}")
        self.con.execute("CREATE TABLE members AS " + " UNION ALL ".join(parts))

    # ---- key catalog -----------------------------------------------------

    def members_of(self, hk: str, level: str) -> list[tuple]:
        """[(unique_name, keys, caption)] of one level, in a stable order."""
        return [(u, list(k), c) for u, k, c in self.con.execute(
            "SELECT uname, keys, caption FROM members WHERE h = ? AND "
            "level = ? ORDER BY uname", [hk, level]).fetchall()]

    def level_size(self, hk: str, level: str) -> int:
        return self.con.execute(
            "SELECT count(*) FROM members WHERE h = ? AND level = ?",
            [hk, level]).fetchone()[0]

    def caption_count(self, hk: str, level: str) -> int:
        """Distinct captions of a level — the row count of a query that
        puts the level alone on rows (results group by caption)."""
        return self.con.execute(
            "SELECT count(DISTINCT caption) FROM members WHERE h = ? AND "
            "level = ?", [hk, level]).fetchone()[0]

    def total_members(self) -> int:
        return self.con.execute("SELECT count(*) FROM members").fetchone()[0]

    # ---- reference answers -----------------------------------------------

    def member_page(self, hk: str, level: str, limit: int,
                    offset: int) -> list[str]:
        return [r[0] for r in self.con.execute(
            "SELECT uname FROM members WHERE h = ? AND level = ? "
            "ORDER BY caption, uname LIMIT ? OFFSET ?",
            [hk, level, limit, offset]).fetchall()]

    def search_count(self, term: str, dimension: str | None) -> int:
        hks = [k for k, h in HIERS.items()
               if dimension is None or h.dim == dimension]
        marks = ", ".join("?" for _ in hks)
        return self.con.execute(
            f"SELECT count(*) FROM members WHERE h IN ({marks}) AND "
            f"contains(upper(caption), upper(?))", [*hks, term]).fetchone()[0]

    def children_count(self, parent_unames: list[str]) -> int:
        return self.con.execute(
            "SELECT count(*) FROM members WHERE h = 'var' AND depth = 2 AND "
            "list_extract(keys, 1) IN (SELECT list_extract(keys, 1) FROM "
            "members WHERE h = 'var' AND depth = 1 AND uname IN "
            "(SELECT unnest(?)))", [parent_unames]).fetchone()[0]

    def query_rows(self, spec: dict) -> tuple[list[str], list[tuple]]:
        """Reference answer for a query spec (see workloads.query_spec):
        result column names and rows, before any TOPCOUNT cut."""
        group, cols, where = [], [], []
        for ax in spec["rows"]:
            h = HIERS[ax["h"]]
            lv = h.level(ax["level"])
            group.append(lv.caption)
            cols.append(lv.out)
            if ax.get("under"):
                where.append(_path_pred(h, ax["under"]))
        for f in spec.get("filters", []):
            h = HIERS[f["h"]]
            where.append("(" + " OR ".join(_path_pred(h, p)
                                          for p in f["paths"]) + ")")
        for s in spec.get("slicers", []):
            where.append(_path_pred(HIERS[s["h"]], s["path"]))
        bases = list(spec["measures"])
        calc = spec.get("calc")
        if calc:
            bases += [m for m in calc["args"] if m not in bases]
        aggs = [MEASURES[m][1] for m in bases]
        sql = (f"SELECT {', '.join(group + aggs)} FROM fact"
               + (f" WHERE {' AND '.join(where)}" if where else "")
               + f" GROUP BY {', '.join(group)}")
        rows = self.con.execute(sql).fetchall()
        ng = len(group)
        out_cols = cols + [MEASURES[m][0] for m in spec["measures"]]
        out = []
        for r in rows:
            vals = dict(zip(bases, r[ng:]))
            row = list(r[:ng]) + [vals[m] for m in spec["measures"]]
            if calc:
                num, den = (vals[m] for m in calc["args"])
                row.append(num / den if den else None)
            out.append(tuple(row))
        if calc:
            out_cols.append(calc["alias"])
        return out_cols, out


def _lit(v: str) -> str:
    return v if v.lstrip("-").isdigit() else "'" + v.replace("'", "''") + "'"


def _path_pred(h: Hier, keys: list) -> str:
    return "(" + " AND ".join(f"{lv.key} = {_lit(str(k))}"
                              for lv, k in zip(h.levels, keys)) + ")"
